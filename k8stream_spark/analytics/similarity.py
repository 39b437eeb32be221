"""Similarity search over the ``embeddings`` table (ARRAY<FLOAT>, dim 64).

One cosine formula everywhere: ``_dot(a, b, dim) / (na · nb)`` with
``na = sqrt(_dot(a, a, dim))`` computed once per row — the left-to-right
fold DuckDB's ``list_dot_product`` repeats, so every oracle replays the
same doubles.  ``_dot`` is the sole pair-scoring kernel; the driver-side
``np.einsum``/matmul calls below work on integer-quantized vectors
(bucketing, cell assignment, PQ codes) and never score a pair.

The paths, all with the same top-k / pair contract:

  * exact baselines — ``cosine_topk``, ``cosine_near_dup_pairs``,
    ``knn_graph_mutual``: broadcast query panel or diagonal self-join,
    O(n·q) / O(n²); the verifiers the approximate paths are measured
    against.
  * LSH — ``cosine_topk_lsh``, ``cosine_near_dup_lsh``,
    ``knn_graph_mutual_lsh``: deterministic integer hyperplanes
    (``bucket_keys``) map each vector to ``tables`` b-bit bucket keys;
    one candidate stage (``_lsh_candidates``) builds them, candidates
    come from an equi-join on the bucket key (never a cartesian
    product) and are scored exactly.
  * IVF — ``cosine_topk_ivf``: an integer-exact sample-trained k-means
    quantizer; each query probes its nearest cells and exact-reranks
    their members.
  * PQ — ``pq_encode``, ``pq_adc_topk``, ``ivf_pq_topk``: product
    quantization codes scored in the compressed domain (ADC).
  * graph — ``knn_graph_mutual[_lsh]`` edges feeding
    ``semantic_clusters_knn[_lsh]`` through the shared
    connected-components fixpoint.

Floats: all math is done in DOUBLE after an explicit cast; thresholds
test the unrounded cosine, and cosine is rounded to 6 dp before ranking
and output so Spark and the DuckDB oracle rank identically.
"""

from __future__ import annotations

import hashlib
import logging
import math
import warnings

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product over the first ``dim`` elements (prefix semantics:
    wider embeddings pass; ``_vec_checked`` rejects shorter ones), or
    over all ``size(a)`` elements when ``dim`` is None.  ``_dot(a, a)``
    is the squared L2 norm.

    The module's sole pair-scoring kernel: every cosine here is
    ``_dot(a, b, dim) / (na · nb)`` with ``na = sqrt(_dot(a, a, dim))``
    per row, computed in a projection after the candidate equi-joins.

    A 64-term unrolled element_at-product chain falls out of
    whole-stage codegen on Spark 4 (hugeMethodLimit) and evaluates
    INTERPRETED — measured 2.10 s vs 0.32 s for this higher-order
    ``aggregate`` over 600 k pairs × 64 dims on local[32]; on the
    ~600 k-candidate LSH scoring scans the unrolled form was ~17 µs
    per pair.  Older Sparks measured the opposite ratio — re-measure
    before unrolling.  The fold below performs the IDENTICAL IEEE op sequence
    left to right (0.0 + a₁b₁ + a₂b₂ + …; +0.0 as init is exact), so
    results are bit-for-bit unchanged — verified raw-value-identical
    over sampled pairs and by the full DuckDB oracle sweep.  With
    ``dim`` None the indices are ``a``'s own positions (empty for an
    empty array, where ``sequence(1, 0)`` would count down)."""
    idx = (
        F.sequence(F.lit(1), F.lit(dim))
        if dim is not None
        else F.transform(a, lambda _, i: i + 1)
    )
    return F.aggregate(
        idx,
        F.lit(0.0).cast("double"),
        lambda acc, d: acc
        + F.element_at(a, d.cast("int")) * F.element_at(b, d.cast("int")),
    )


def _vec_checked(a: Column, dim: int | None) -> Column:
    """Fail LOUDLY when a vector is shorter than the declared ``dim``
    (``dim`` None: the whole vector is read, nothing to check).

    ``_dot`` reads ``element_at`` past the array end, which fails
    deep inside the fold (ANSI) or returns NULL (non-ANSI) — where every
    cosine would go NULL and a downstream threshold filter would
    silently drop ALL pairs, an empty result indistinguishable from "no
    near-dups".  Wrapping the base projection in this check turns that
    into an immediate job error naming the bad row.  Pure codegen (size
    compare per ROW, not per pair); vectors longer than ``dim`` pass —
    using a prefix of a wider embedding is legitimate."""
    if dim is None:
        return a
    return F.when(F.size(a) >= dim, a).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"embedding shorter than declared dim={dim}: size="
                ),
                F.size(a).cast("string"),
            )
        )
    )


def _lsh_bits_for_n(n_rows: int, target_bucket: int) -> int:
    """Smallest ``bits >= 1`` with ``target_bucket * 2**bits >= n`` —
    the integer-exact form of ``ceil(log2(n / target_bucket))``.  Pure
    integer compare (no float log2 whose rounding could flip the ceil
    near a power of two), so the DuckDB oracle replays it bit-for-bit
    with the same MIN-over-range comparison."""
    bits = 1
    while target_bucket * (1 << bits) < n_rows and bits < 32:
        bits += 1
    return bits


def _lsh_tables_for_bits(
    bits: int,
    target_cosine: float = 0.45,
    min_recall: float = 0.8,
    max_tables: int = 256,
) -> int:
    """Tables needed for ``min_recall`` at ``target_cosine`` given
    ``bits`` hyperplanes per table (Goemans–Williamson agreement
    probability p = 1 − arccos(t)/π; one table catches a pair with
    p^bits).  Shared closed form: the Spark operators call it at
    auto-tune time and ``__spark_entry__`` embeds its values for
    bits 1..32 into the oracle SQL as a lookup table, so the two
    engines compute tables from the SAME Python floats and can never
    drift on a ceil boundary."""
    return max(
        1,
        min(max_tables, _lsh_tables_needed(bits, target_cosine, min_recall)),
    )


def _lsh_tables_needed(
    bits: int, target_cosine: float, min_recall: float
) -> int:
    """UNCAPPED table count for ``min_recall`` — the closed form before
    ``max_tables`` clamps it, split out so ``suggest_lsh_params`` can
    detect when the cap binds (and by how much) without re-deriving the
    formula."""
    p = 1.0 - math.acos(target_cosine) / math.pi
    p_table = p**bits
    if p_table >= 1.0:
        return 1
    return math.ceil(math.log(1.0 - min_recall) / math.log(1.0 - p_table))


def suggest_lsh_params(
    n_rows: int,
    target_cosine: float = 0.45,
    target_bucket: int = 512,
    min_recall: float = 0.8,
    max_tables: int = 256,
) -> tuple[int, int]:
    """(bits, tables) for hyperplane LSH that hold per-bucket occupancy
    and recall as the corpus grows — the 100 TB tuning law the sf1
    measurement pinned (SCALE.md: fixed bits=6/tables=24 gave
    candidate pairs ~n²·tables/2^bits on isotropic vectors, 68× cost
    for 10× data on the mutual-kNN path).

    * ``bits = ceil(log2(n / target_bucket))`` keeps expected bucket
      size ~target_bucket, so per-table candidate work is
      ~n·target_bucket — linear in n, not quadratic.
    * per-hyperplane agreement for a pair at ``target_cosine`` t is
      p = 1 − arccos(t)/π (Goemans–Williamson); one table catches the
      pair with p^bits, so ``tables = ceil(ln(1−min_recall) /
      ln(1−p^bits))`` restores recall that extra bits destroyed,
      capped at ``max_tables`` (cost grows linearly with tables; when
      the cap binds a ``RuntimeWarning`` names the achievable recall
      and the escape hatches — raise ``target_bucket`` or fall back to
      the IVF family).

    Pure driver-side arithmetic.  This IS the LSH operators' default
    path: ``cosine_near_dup_lsh`` / ``cosine_topk_lsh`` /
    ``knn_graph_mutual_lsh`` / ``semantic_clusters_knn_lsh`` auto-tune
    from a corpus count when the caller doesn't pass ``(tables=,
    bits=)`` (see ``_auto_lsh_params``), and the DuckDB oracle replays
    the same rule (integer bits comparison + a lookup of
    ``_lsh_tables_for_bits`` values embedded at SQL-build time).
    """
    if n_rows <= 0:
        raise ValueError("n_rows must be positive")
    if not 0.0 < target_cosine < 1.0:
        raise ValueError("target_cosine must be in (0, 1)")
    if not 0.0 < min_recall < 1.0:
        raise ValueError("min_recall must be in (0, 1)")
    bits = _lsh_bits_for_n(n_rows, target_bucket)
    tables = _lsh_tables_for_bits(
        bits, target_cosine, min_recall, max_tables
    )
    needed = _lsh_tables_needed(bits, target_cosine, min_recall)
    if needed > max_tables:
        # Past the cap, recall falls below min_recall.  Warn with
        # the ACHIEVABLE number so the caller can decide: at
        # target_bucket=32 the cap first binds near n ≈ 66k (bits 12,
        # needs 290 tables) where achievable recall is ~0.76.
        p_table = (1.0 - math.acos(target_cosine) / math.pi) ** bits
        achievable = 1.0 - (1.0 - p_table) ** tables
        warnings.warn(
            f"LSH table cap binds: {needed} tables needed for recall "
            f">={min_recall} at bits={bits} (n_rows={n_rows}), capped "
            f"at {max_tables} -> achievable recall ~{achievable:.3f}. "
            "Raise target_bucket (fewer bits per table, bigger "
            "buckets) or switch to the IVF family (cosine_topk_ivf / "
            "ivf_pq_topk), whose cost scales with nprobe/nlist instead "
            "of table count.",
            RuntimeWarning,
            stacklevel=2,
        )
    return bits, tables


#: Auto-tune defaults for the LSH operators.
#: ``target_bucket=32`` is the measured sweet spot on the fixtures: at
#: sf0.1 (n=2000) it reproduces the old hand-fixed regime almost exactly
#: (bits=6, tables=21 vs the old 6/24), while at sf1 (n=20000) it yields
#: (bits=10, tables=122) — ~3× fewer candidate pairs than the fixed
#: params that measured 25–68× cost for 10× data (SCALE.md).
#: Candidate work scales ~n^(1+ρ) with ρ = ln(1/p)/ln2 ≈ 0.625 at
#: cosine 0.45 — the hyperplane-LSH exponent; sub-that needs IVF.
#: At very large n the 256-table cap binds and recall degrades below
#: ``min_recall`` — suggest_lsh_params emits a RuntimeWarning naming
#: the achievable recall; raise target_bucket or use the IVF
#: family.
_AUTO_TARGET_BUCKET = 32
_AUTO_TARGET_COSINE = 0.45
_AUTO_MIN_RECALL = 0.8
_AUTO_MAX_TABLES = 256


#: Size gate for broadcasting the per-id vector frame into the LSH
#: candidate rejoin.  The candidate-pair frame is ~n^1.625 rows (16 B
#: each); without a hint, a vector side just over AQE's 10 MB default
#: autoBroadcastJoinThreshold silently demotes BOTH rejoins to full
#: shuffle joins OF THE PAIR FRAME — measured 86→23 s at sf1 (20k
#: vectors = 10.4 MB, one byte over the line).  500k rows × ~520 B ≈
#: 260 MB is the documented executor broadcast budget; past it the
#: rejoin is a legitimate shuffle join on the id (the 100 TB case).
_BCAST_VEC_ROWS = 500_000


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= _BCAST_VEC_ROWS else df


#: Auto-tune defaults for the IVF probe count — the nprobe analogue
#: of the LSH bits/tables law.  With the IVF quantizer's
#: ``nlist ~ sqrt(n)/2`` default, a FIXED nprobe is a shrinking probed
#: fraction, and on the isotropic fixture recall tracks that fraction
#: almost exactly (measured, scripts/ivf_nprobe_sweep.py: frac 0.36 →
#: 0.74 mean recall@10 at n=2,000; frac 0.114 → 0.40 at n=20,000 — a
#: fixed nprobe fails at sf1; frac 0.4 → 0.80 at BOTH scales).
#: Isotropic data has no cluster structure a probe
#: can exploit, so the closed form is a constant FRACTION of nlist:
#: nprobe = ceil(nlist/2), floored at the old default 8 and capped at
#: nlist.  Measured at 1/2: mean recall@10 = 0.84 (n=2,000, nprobe 11)
#: and 0.88 (n=20,000, nprobe 35) — above the 0.8 design target LSH
#: tunes for.  Cost is ~n/2 exact reranks per query — linear in n for
#: a constant query panel, the isotropic WORST case; clustered
#: real-world embeddings concentrate neighbors in few cells, so
#: callers there can pass a smaller explicit nprobe (the clustered
#: fixture measurement in SCALE.md prices this).
_AUTO_NPROBE_FLOOR = 8
_AUTO_PROBE_NUM = 1
_AUTO_PROBE_DEN = 2
#: Structure-aware nprobe: the mean top1−top2
#: quantizer-cosine margin of the training sample, point-norm
#: normalized and micro-quantized, separates the regimes cleanly —
#: measured (scripts/ivf_nprobe_sweep.py --margins, SCALE.md):
#:   isotropic   n=500/2k/20k  -> margin 0.149 / 0.103 / 0.064
#:                                (shrinks with nlist: extreme order
#:                                statistics of random cosines cluster,
#:                                so big-nlist isotropic NEVER reads as
#:                                structured — the safe direction)
#:   clustered σ=.06 (cos~.81) -> 0.452 / 0.418   (stable in n)
#:   clustered σ=.12 (cos~.52) -> 0.301 / 0.246   (mid-band)
#: Below LO: the isotropic worst-case law (ceil(nlist/2)).  Above HI:
#: the floor alone (neighbors share the query's cell).  Between:
#: linear ramp, exact ints.  Constants are micro-cosine units.
#: Validated at n=20k, nlist=70 (SCALE_CLUSTERED.json): law picks
#: nprobe 35/8/28 for isotropic/σ.06/σ.12 with recall@10 0.88/1.0/1.0;
#: the recall-1.0 knee sits at nprobe 2 (σ.06) and 4 (σ.12), so the
#: picks carry 2-4x headroom below the isotropic fraction.
_MARGIN_LO_MICRO = 200_000
_MARGIN_HI_MICRO = 400_000


def suggest_ivf_nprobe(
    nlist: int,
    probe_num: int = _AUTO_PROBE_NUM,
    probe_den: int = _AUTO_PROBE_DEN,
    floor: int = _AUTO_NPROBE_FLOOR,
    margin_micro: int | None = None,
) -> int:
    """Probe count for an IVF search at ``nlist`` cells — all exact
    integer arithmetic so the DuckDB oracle replays the same rule
    (``__spark_entry__._ivf_training_sql`` embeds these module
    constants at SQL-build time).  This IS the IVF operators' default
    (``cosine_topk_ivf`` / ``ivf_pq_topk`` with ``nprobe=None``).

    ``margin_micro`` is the measured quantizer-structure
    statistic (``_ivf_sample_margin_micro``): when the training sample
    sits near its centers with clear second-best separation, neighbors
    concentrate in few cells and probing half the index is waste — the
    whole point of IVF is pruning structure.  The law:

    * ``None`` or ``<= _MARGIN_LO_MICRO`` (isotropic regime):
      ``ceil(nlist·probe_num/probe_den)`` — the measured worst case.
    * ``>= _MARGIN_HI_MICRO`` (strongly clustered): the floor alone.
    * between: linear ramp
      ``ceil(nlist·(HI − margin) / (den·(HI − LO)))`` (den=2 default —
      the ramp is anchored to the isotropic fraction at LO).

    Always clamped to ``min(nlist, max(floor, ·))``."""
    if nlist <= 0:
        raise ValueError("nlist must be positive")
    if margin_micro is None or margin_micro <= _MARGIN_LO_MICRO:
        tuned = -(-probe_num * nlist // probe_den)  # ceil, exact ints
    elif margin_micro >= _MARGIN_HI_MICRO:
        tuned = 0  # the floor below takes over
    else:
        span = probe_den * (_MARGIN_HI_MICRO - _MARGIN_LO_MICRO)
        tuned = -(-probe_num * nlist * (_MARGIN_HI_MICRO - margin_micro) // span)
    return min(nlist, max(floor, tuned))


_LOG = logging.getLogger(__name__)


def _ivf_sample_margin_micro(X: np.ndarray, C: np.ndarray) -> int:
    """Quantizer-structure statistic over the training sample: mean of
    ``micro((cos1 − cos2) / |x|_q)`` where cos1/cos2 are the point's two
    best exact-parts cell cosines (``_int_cos_matrix`` doubles,
    engine-identical), ``|x|_q = sqrt(Σq²)`` normalizes away the raw
    point norm, and micro = ``floor(·*1e6 + 0.5)``.  Every step is
    either exact int64 or one correctly-rounded IEEE op on
    engine-identical operands, the per-point ints are summed exactly and
    floor-divided — so DuckDB replays the statistic bit-for-bit from the
    training-replay CTEs (margins are non-negative, so DuckDB's
    truncating ``//`` equals Python's floor ``//``)."""
    if C.shape[0] < 2 or len(X) == 0:
        return 0  # no second-best cell -> no structure signal
    cos = _int_cos_matrix(X, C)
    s = np.sort(cos, axis=1)
    Xf = X.astype(np.float64)
    qn = np.sqrt(np.einsum("ij,ij->i", Xf, Xf))  # exact int under sqrt
    m = (s[:, -1] - s[:, -2]) / qn
    mic = np.floor(m * 1e6 + 0.5).astype(np.int64)
    return int(mic.sum()) // len(mic)


def _auto_nprobe(nlist: int, n_rows: int, margin_micro: int | None = None) -> int:
    """``suggest_ivf_nprobe`` + an INFO log naming the probed fraction
    and the structure regime, so default-path callers can see the
    chosen regime."""
    nprobe = suggest_ivf_nprobe(nlist, margin_micro=margin_micro)
    regime = (
        "no structure statistic (isotropic worst-case law)"
        if margin_micro is None
        else f"measured margin {margin_micro / 1e6:.3f} "
        f"(LO {_MARGIN_LO_MICRO / 1e6:.2f} / HI {_MARGIN_HI_MICRO / 1e6:.2f})"
    )
    _LOG.info(
        "IVF auto-tuned nprobe=%d of nlist=%d (probes %.0f%% of cells, "
        "n=%d; %s — pass nprobe= to pin)",
        nprobe, nlist, 100.0 * nprobe / nlist, n_rows, regime,
    )
    return nprobe


def _check_lsh_params(tables: int | None, bits: int | None) -> None:
    """Reject a half-pinned LSH regime BEFORE any DataFrame is built:
    raising after ``.persist()``+``.count()`` would make a pure argument
    error cost a full corpus pass and leak the persisted frame on the
    error path."""
    if (tables is None) != (bits is None):
        raise ValueError(
            "pass both tables= and bits= to pin the LSH regime, or "
            "neither to auto-tune (suggest_lsh_params)"
        )


def _auto_lsh_params(n_rows: int) -> tuple[int, int]:
    """(bits, tables) the LSH operators use when the caller passes
    ``tables=None, bits=None`` — ``suggest_lsh_params`` at the module
    auto-tune defaults, total-function on n=0 (empty corpus → (1, 2),
    the result frame is empty regardless)."""
    return suggest_lsh_params(
        max(1, n_rows),
        target_cosine=_AUTO_TARGET_COSINE,
        target_bucket=_AUTO_TARGET_BUCKET,
        min_recall=_AUTO_MIN_RECALL,
        max_tables=_AUTO_MAX_TABLES,
    )


def _spread(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Conditionally spread a frame for a compute-heavy downstream stage
    (O(n²) scoring, n·d² pair generation).

    ``repartition(n, cols)`` ALWAYS inserts a hash Exchange, even when
    the input already has n partitions — so an unconditional call makes
    the 100 TB plan pay a corpus-row shuffle it doesn't need.  This
    helper shuffles ONLY when the input's actual partition count is
    pathologically low relative to the session's parallelism (the local
    single-file-parquet fixture case, where the whole quadratic stage
    would otherwise run on one core); a well-partitioned cluster-scale
    input passes through with NO exchange in the plan.  Gated by
    ``tests/test_plans.py::test_spread_is_conditional``.

    The partition-count probe (``.rdd.getNumPartitions()``) forces
    physical planning of the input, so its result is memoized on the
    DataFrame object — repeated ``_spread`` calls over the same frame
    (multi-stage operators, retries) plan it once.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    cached = getattr(df, "_k8s_spread_parts", None)
    if cached is None:
        cached = df.rdd.getNumPartitions()
        try:
            df._k8s_spread_parts = cached
        except AttributeError:  # pragma: no cover - slotted DataFrame
            pass
    if cached * 2 >= n_parts:
        return df
    return df.repartition(n_parts, *cols)


def cosine_topk(
    embeddings: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k per query id.

    Returns (query_id, neighbor_id, rank, cosine) — cosine rounded 6 dp,
    rank tie-broken by neighbor_id so the output is fully deterministic.
    The query side is broadcast; the scan side is one pass over the table.
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(
        F.col(id_col).alias("__id"), vec_d.alias("__v")
    )
    queries = base.where(F.col("__id").isin(*query_ids)).select(
        F.col("__id").alias("query_id"), F.col("__v").alias("__q")
    )
    scored = F.broadcast(queries).crossJoin(base).where(
        F.col("__id") != F.col("query_id")
    )
    cos = _dot(F.col("__q"), F.col("__v")) / (
        F.sqrt(_dot(F.col("__q"), F.col("__q")))
        * F.sqrt(_dot(F.col("__v"), F.col("__v")))
    )
    scored = scored.withColumn("cosine", F.round(cos, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("__id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )


def _plane_weights(table: int, bit: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane components as INTEGERS in
    [-50000, 49999], derived from sha256(table:bit:d) at PLAN-BUILD time.
    No RNG state → identical plans on every run and every executor, and
    (unlike a per-row hash expression) zero per-row hashing cost.

    Integer weights (instead of the earlier floats) make the whole bucket
    assignment exact integer arithmetic once the vector is quantized
    (``bucket_keys``): the sign of an int64 dot product is identical in
    numpy, Spark and DuckDB regardless of summation order, so the DuckDB
    oracle can replicate the bucketing bit-for-bit from the same public
    recipe (``sha256(t:b:d)`` is a DuckDB builtin) and the LSH queries are
    hash-checkable end to end, not rows-only.  Uniform ints are as good a
    hyperplane direction source as uniform floats."""
    out = []
    for d in range(dim):
        h = hashlib.sha256(f"{table}:{bit}:{d}".encode()).digest()
        out.append(int.from_bytes(h[:8], "big") % 100000 - 50000)
    return out


def bucket_keys(
    vec: Column, dim: int, tables: int = 8, bits: int = 12
) -> Column:
    """Array of ``tables`` bucket keys; key = sign-bit pattern of ``bits``
    hyperplane projections, offset by the table index so keys from
    different tables never collide after the explode.

    This is the one hot-path op in the engine where built-in expressions
    genuinely lose: sign-random-projection is a dense (n × dim)·(dim ×
    tables·bits) matmul.  A higher-order-function fold evaluates
    interpreted (~1.5 ms/row measured) and the unrolled multiply-add
    chain (6144 terms) OOMs janino at codegen — so this is an
    Arrow-vectorized Pandas UDF over numpy, the prescribed fallback
    (SURVEY.md §7.4): one BLAS matmul per Arrow batch, weights shipped
    once in the closure."""
    W = np.asarray(
        [
            _plane_weights(t, b, dim)
            for t in range(tables)
            for b in range(bits)
        ],
        dtype=np.int64,
    )  # (tables*bits, dim)

    @pandas_udf("array<long>")
    def keys(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy())  # (n, dim) float64
        # Quantize to integers first (floor(x*1e6 + 0.5) — the same IEEE
        # double ops the DuckDB oracle runs), then take signs of the
        # EXACT int64 matmul: no float summation-order dependence, so
        # bucket keys are bit-identical across numpy/Spark/DuckDB.
        # |q| ≤ ~5e6 · |w| ≤ 5e4 · dim 64 → |dot| ≤ 1.6e13, far inside
        # int64.
        VQ = np.floor(V * 1e6 + 0.5).astype(np.int64)
        signs = (VQ @ W.T >= 0).astype(np.int64)  # (n, tables*bits)
        n = len(v)
        keys_mat = np.empty((n, tables), dtype=np.int64)
        for t in range(tables):
            k = np.full(n, t, dtype=np.int64)
            for b in range(bits):
                k = (k << 1) ^ signs[:, t * bits + b]
            keys_mat[:, t] = k
        return pd.Series(list(keys_mat))

    # NOT marked asNondeterministic (audited): the one caller
    # (``_lsh_candidates``) explodes the key array inline in a single
    # select, and that shape evaluates the UDF once — verified by executing the bucketed
    # plan pre/post fence (1 ArrowEvalPython both ways; the duplication
    # only bites random_projection's two-select posexplode shape, fenced
    # there).  Leaving the UDF deterministic keeps filter pushdown past
    # it legal for future consumers.
    return keys(vec)


def _lsh_candidates(
    embeddings: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    tables: int | None,
    bits: int | None,
) -> tuple[DataFrame, int, DataFrame]:
    """The one LSH candidate stage of ``cosine_topk_lsh``,
    ``cosine_near_dup_lsh`` and ``knn_graph_mutual_lsh``.

    Returns ``(base, n_rows, bucketed)``: ``base`` is the persisted
    (``__id``, raw double ``__v``, its norm ``__n``) frame, ``n_rows``
    its count (which also drives the ``_auto_lsh_params`` auto-tune and
    the rejoin broadcast gate), and ``bucketed`` the persisted
    (``__id``, ``__bkt``) explode of ``bucket_keys``.  Buckets come from
    the RAW doubles: they are exactly what the DuckDB oracle quantizes,
    so candidate generation is bit-identical across engines.  Both
    frames stay persisted for the caller's lazy result; release them
    with ``unpersist`` or ``spark.catalog.clearCache()``."""
    _check_lsh_params(tables, bits)
    base = embeddings.select(
        F.col(id_col).alias("__id"),
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ).alias("__v"),
    ).withColumn(
        "__n", F.sqrt(_dot(F.col("__v"), F.col("__v"), dim))
    ).persist()
    n_rows = base.count()
    if tables is None:
        bits, tables = _auto_lsh_params(n_rows)
    bucketed = base.select(
        "__id",
        F.explode(bucket_keys(F.col("__v"), dim, tables, bits)).alias("__bkt"),
    ).persist()
    # Materialize before the self-join: within one action the two join
    # branches would otherwise race the unpopulated cache and each
    # compute the bucketing from scratch.
    bucketed.count()
    return base, n_rows, bucketed


def _lsh_scored_pairs(
    base: DataFrame, n_rows: int, bucketed: DataFrame, dim: int
) -> DataFrame:
    """Candidate pairs (``id_a`` < ``id_b``) sharing a bucket, with their
    UNROUNDED cosine ``__cos`` — the scored pair frame
    ``cosine_near_dup_lsh`` thresholds and ``knn_graph_mutual_lsh`` ranks.

    The pair dedup runs on the 16-byte id pairs before any vector is
    rejoined (deduping with vectors attached would shuffle ~1 KB per
    candidate).  The rejoin broadcast is size-gated
    (``_maybe_broadcast``): unhinted, a vector frame just over AQE's
    10 MB line demotes both rejoins to shuffle joins of the
    candidate-pair frame.  The cosine is computed after the equi-joins,
    never in a join condition."""
    cand = (
        bucketed.select(F.col("__id").alias("id_a"), "__bkt")
        .join(bucketed.select(F.col("__id").alias("id_b"), "__bkt"), "__bkt")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = _dot(F.col("__va"), F.col("__vb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        cand.join(_maybe_broadcast(va, n_rows), "id_a")
        .join(_maybe_broadcast(vb, n_rows), "id_b")
        .select("id_a", "id_b", cos.alias("__cos"))
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    tables: int | None = None,
    bits: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: LSH-bucketed candidate generation + exact
    rerank.  Same output columns as ``cosine_topk`` (ranks may differ when
    recall < 1 — pytest checks recall against the brute-force baseline).

    ``tables``/``bits`` default to the corpus-size auto-tune
    (``suggest_lsh_params`` at the ``_AUTO_*`` thresholds, from one
    count of the persisted base): bits ≈ log2(n/32) holds per-bucket
    occupancy as the corpus grows, tables restores ~0.8 recall at
    cosine 0.45 — the 100 TB tuning law the sf1 measurement pinned
    (SCALE.md: fixed params went 25–68× for 10× data).  Pass both
    explicitly to pin a regime (the DuckDB oracle replays the same
    auto-tune rule, so the defaults stay hash-checkable at any SF).
    """
    base, n_rows, bucketed = _lsh_candidates(
        embeddings, vec_col, id_col, dim, tables, bits
    )
    q = bucketed.where(F.col("__id").isin(*query_ids)).select(
        F.col("__id").alias("query_id"), "__bkt"
    )
    # dedup candidate (query, neighbor) id pairs FIRST (16 bytes/row), then
    # join the vectors back — never shuffle the vectors through distinct
    cand = (
        F.broadcast(q)
        .join(bucketed, "__bkt")
        .where(F.col("__id") != F.col("query_id"))
        .select("query_id", "__id")
        .distinct()
    )
    qv = base.select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__q"),
        F.col("__n").alias("__nq"),
    )
    cand = cand.join(
        F.broadcast(qv.where(F.col("query_id").isin(*query_ids))), "query_id"
    ).join(_maybe_broadcast(base, n_rows), "__id")
    cos = _dot(F.col("__q"), F.col("__v"), dim) / (
        F.col("__nq") * F.col("__n")
    )
    scored = cand.withColumn("cosine", F.round(cos, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("__id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("__id").alias("neighbor_id"), "rank", "cosine")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: all (a, b) with a < b and
    cosine >= threshold.  Brute-force O(n²) diagonal join — the
    oracle-checkable BASELINE and verifier, not the scale path; at 100 TB
    use ``cosine_near_dup_lsh``, which generates candidates by bucket
    equi-join and reranks exactly.

    The threshold is filtered on the UNROUNDED cosine (identical IEEE op
    order to DuckDB's list_dot_product) and rounded 6 dp only for output.
    Same quadratic-stage discipline as ``knn_graph_mutual``: per-row
    norms (one dot per pair, not three), ``_dot`` over ``dim`` elements
    (all of each vector when ``dim`` is None), and a CONDITIONAL stream-side
    spread (``_spread``) so a single-file local input doesn't run the
    whole O(n²) stage on one core (49 s → 12 s at sf0.1 with dim=64)
    while a well-partitioned cluster input pays no extra exchange.
    """
    vec_d = F.transform(
        _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
    )
    base = embeddings.select(
        F.col(id_col).alias("__id"), vec_d.alias("__v")
    ).withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"), dim)))
    a = _spread(base, "__id").select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = _dot(F.col("__va"), F.col("__vb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(cos >= threshold)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


def cosine_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    tables: int | None = None,
    bits: int | None = None,
) -> DataFrame:
    """Approximate embedding-cosine near-dup: LSH-bucketed candidate pairs
    (self-join on bucket key, never all-pairs) + exact-cosine verification.
    Same output columns as ``cosine_near_dup_pairs``; recall < 1 by design
    (pytest measures it against the exact baseline).

    ``tables``/``bits`` default to the corpus-size auto-tune (see
    ``cosine_topk_lsh`` — same ``_auto_lsh_params`` law, same oracle
    replay).  Every verified pair carries the exact baseline's cosine:
    the same ``dot / (na · nb)`` expression, thresholded unrounded and
    rounded 6 dp only for output (``_lsh_scored_pairs``).
    """
    base, n_rows, bucketed = _lsh_candidates(
        embeddings, vec_col, id_col, dim, tables, bits
    )
    return (
        _lsh_scored_pairs(base, n_rows, bucketed, dim)
        .where(F.col("__cos") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__cos"), 6).alias("cosine"))
    )


#: Per-coordinate quantization scale for the integer-exact IVF quantizer:
#: q_d = floor(x_d * 1e4 + 0.5).  1e-4 granularity is far below any cell
#: boundary a COARSE quantizer cares about, and it keeps every quantity in
#: the training loop exactly representable: |q| <= ~1e4, int dot products
#: <= ~6e9, squared norms <= ~6e9 — all < 2^53, so the double cosine
#: a/sqrt(n2) is computed from EXACT integers by correctly-rounded IEEE
#: ops and is bit-identical in any engine (numpy, Spark, DuckDB).
_IVF_QSCALE = 10000.0
#: Lloyd iterations for the integer-exact quantizer.  Fixed and small on
#: purpose: recall is governed by nprobe, not centroid polish, and the
#: DuckDB oracle unrolls exactly this many assignment/update rounds.
_IVF_ITERS = 4
#: Training-sample cap (the FAISS rule of thumb: quantizer fit needs only
#: a bounded sample however big the table).
_IVF_MAX_TRAIN = 20000

#: Hard ceiling on any quantizer-training sample collected to the
#: driver (k-means / PQ codebooks).  ``limit(max_train)`` already
#: bounds the collect to what the CALLER asked for; this bounds what a
#: caller may ask for: 200k rows × 64 dims × 8 B ≈ 100 MB of sample is
#: the documented driver budget, and a max_train above it raises
#: instead of OOMing a shared driver.  Runtime-enforced.
_MAX_TRAIN_CEILING = 200_000

#: Documented applicability bound of the per-label PCA family: the
#: driver holds |labels|·d² int64 cells, so labels must be
#: LOW-cardinality (classes, buckets, shards — not ids).  256 labels
#: × 64² = 1,048,576 cells ≈ 8 MB is the budget; beyond it the right
#: tool is the global ``pca_top_component`` over a filtered frame.
#: Runtime-enforced with one cheap label-column pre-scan.
_MAX_PCA_LABELS = 256


def _check_max_train(max_train: int) -> None:
    if max_train > _MAX_TRAIN_CEILING:
        raise ValueError(
            f"max_train={max_train} exceeds the documented driver-state "
            f"ceiling {_MAX_TRAIN_CEILING} (~100 MB of sample vectors); "
            "train on a bounded sample or raise the ceiling deliberately"
        )


def _check_label_cardinality(
    embeddings: DataFrame, label_col: str, dim: int
) -> None:
    """One narrow-column pre-scan (exact countDistinct) enforcing the
    per-label PCA driver bound BEFORE the d²-cell aggregation runs.
    Exact, not approx_count_distinct: the HLL's ~2% error could admit a
    label column slightly over the bound (or spuriously reject one just
    under it), and the scan is a single narrow column either way."""
    n_labels = int(
        embeddings.agg(
            F.countDistinct(F.col(label_col)).alias("n")
        ).collect()[0][0]
    )
    if n_labels > _MAX_PCA_LABELS:
        raise ValueError(
            f"{label_col} has {n_labels} distinct values; per-label PCA "
            f"holds |labels|*{dim}^2 int64 cells on the driver and is "
            f"documented for <= {_MAX_PCA_LABELS} labels — filter or "
            "bucket the label, or use the global pca_top_component"
        )


def _quantize_ivf(X: np.ndarray) -> np.ndarray:
    """floor(x*1e4 + 0.5) per coordinate as int64 — the same IEEE double
    expression every engine evaluates identically (cf. the hyperplane-LSH
    bucketing, bucket_keys).  The one quantization of the IVF index, the
    PQ codebooks and ``semantic_dedup``'s cells."""
    return np.floor(X * _IVF_QSCALE + 0.5).astype(np.int64)


def _int_cos_matrix(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Cosine of every (row of Q) × (row of C) from integer-exact parts:
    a = Q@Cᵀ and n2 = Σc² are exact integers; the double division and
    sqrt are correctly rounded, so the matrix is bit-identical across
    engines.  Zero centroids get sentinel -2.0 (below any real cosine).

    The products run in float64 BLAS, not int64: numpy has no BLAS
    kernel for integer matmul (measured 5× slower, and it's the
    executor-side hot path via ``_int_cell_assigner``).  This loses
    nothing — |q| ≤ ~1e4 so every product ≤ 1e8 and every partial sum
    ≤ dim·1e8 ≈ 6.4e9 < 2^53 is an exactly-representable float64, and
    float64 ops on exactly-representable integers with integer results
    are exact regardless of accumulation order."""
    a = Q.astype(np.float64) @ C.T.astype(np.float64)  # integer-exact
    Cf = C.astype(np.float64)
    n2 = np.einsum("ij,ij->i", Cf, Cf)  # integer-exact
    cos = np.full(a.shape, -2.0)
    nz = n2 > 0
    cos[:, nz] = a[:, nz] / np.sqrt(n2[nz])
    return cos


def _sample_kmeans_int(
    base: DataFrame,
    nlist: int,
    n_rows: int,
    max_train: int = _IVF_MAX_TRAIN,
    iters: int = _IVF_ITERS,
    return_sample: bool = False,
) -> np.ndarray | tuple[np.ndarray, np.ndarray]:
    """Integer-exact spherical-assignment k-means on a bounded,
    deterministic sample — the FAISS pattern (quantizer fit needs only a
    sample; recall is governed by nprobe, not centroid polish) made
    cross-engine-reproducible: the one coarse quantizer of the IVF
    index and ``semantic_dedup``, so a SQL oracle can replay training
    bit-for-bit (same trick as the hyperplane-LSH integer bucketing):

    * sample row r is selected when ``sha256(str(id))[:15hex] % 1000 <
      permille`` (permille = max_train·1000 // n_rows, integer division)
      — no xxhash64, no RNG; ordered by (hash, id), capped at max_train;
    * vectors quantized per coordinate with ``floor(x·1e4 + 0.5)``;
    * seeds = the first ``nlist`` sample rows, cell index = sample rank;
    * each Lloyd round assigns a sample point to the cell maximizing the
      exact-integer cosine (ties → smallest cell), then re-centers each
      nonempty cell at the per-coordinate rounded mean
      ``floor((2·Σq + m) / (2m))`` — integer half-up, expressible as the
      identical double FLOOR in SQL because every operand is < 2^53;
    * empty cells carry their previous centroid.

    ``base`` must carry ``__id`` and ``__x`` (raw double array — raw, not
    unit: argmax over cells of dot(x,c)/|c| is invariant to the point's
    own norm, so normalization never enters the integer path).  Returns
    the (nlist × dim) int64 centroid matrix — the only driver-side state.
    """
    _check_max_train(max_train)
    permille = max(1, min(1000, max_train * 1000 // max(1, n_rows)))
    hcol = F.conv(
        F.substring(F.sha2(F.col("__id").cast("string"), 256), 1, 15), 16, 10
    ).cast("bigint") % 1000
    sample = base.select("__id", "__x", hcol.alias("__h")).where(
        F.col("__h") < permille
    )
    rows = sample.orderBy("__h", "__id").limit(max_train).collect()
    X = _quantize_ivf(np.asarray([r["__x"] for r in rows], dtype=np.float64))
    if len(X) < nlist:
        raise ValueError(
            f"sample ({len(X)}) smaller than nlist ({nlist}); "
            "raise max_train or lower nlist"
        )
    C = X[:nlist].copy()
    for _ in range(iters):
        assign = np.argmax(_int_cos_matrix(X, C), axis=1)  # first max = low cell
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                s = members.sum(axis=0)  # int64-exact, |s| <= m·|q|max
                m = len(members)
                # Identical double expression to the SQL oracle's FLOOR:
                # operands exact (< 2^53), quotient never within one ulp
                # of a wrong integer (|p/2m - N| >= 1/(2m) when nonzero).
                C[c] = np.floor((2 * s + m) / (2.0 * m)).astype(np.int64)
    # return_sample: the quantized training sample feeds the structure
    # statistic (_ivf_sample_margin_micro) without a second collect
    return (C, X) if return_sample else C


def _int_cell_assigner(C: np.ndarray):
    """Arrow-batched integer-exact argmax cell assignment over the RAW
    double vector column: quantize the batch, exact int64 matmul against
    the centroid matrix (closure-broadcast), argmax of the exact-parts
    cosine with first-max (= smallest cell) ties — the distributed twin
    of the training loop's assignment step, shared by the IVF index and
    ``semantic_dedup``."""

    @pandas_udf("int")
    def cell_of(x: pd.Series) -> pd.Series:
        if x.empty:
            return pd.Series([], dtype="int32")
        Q = _quantize_ivf(np.vstack(x.to_numpy()).astype(np.float64))
        return pd.Series(
            np.argmax(_int_cos_matrix(Q, C), axis=1).astype("int32")
        )

    return cell_of


def ann_recall_report(
    embeddings: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    method: str = "lsh",
) -> DataFrame:
    """Recall@k of an approximate top-k path against the exact
    brute-force top-k, per query — the engine's measure-don't-guess
    contract as a FIRST-CLASS query instead of a pytest-only bound:
    both sides are fully deterministic (exact ranks tie-break by id;
    the LSH buckets are integer-exact via ``_plane_weights``, the IVF
    quantizer is the integer-exact replayable one, the ADC scores are
    doubles computed from exact int64 lookup sums), so the recall
    numbers themselves replay in the DuckDB oracle and hash-check.
    ``method``: ``"lsh"`` (default), ``"ivf"``, ``"adc"`` (the PQ
    compressed-domain search, m=16 — measures what 32× compression
    costs in recall, the number the SCALE.md compression table quotes
    from pytest promoted to a driver-graded query), or ``"ivfpq"``
    (the composed probe+ADC deployment — recall bounded by BOTH
    quantizers).

    Output: one row per query id present in the corpus —
    (query_id, n_exact, n_hits, recall), recall = hits/n_exact rounded
    6 dp (n_exact < k only when the corpus is smaller than k+1).

    Scale: recall measurement at 100 TB IS this shape — a constant-size
    query panel (broadcast) against the full corpus: the exact side is
    one scan + per-query top-k heaps (TakeOrdered semantics via the
    rank window over a broadcast panel), the approximate side is the
    production LSH path under test; the intersection join carries
    (query, neighbor-id) pairs, ≤ q·k rows.
    """
    # ``exact`` has ONE consumer (the hits join): a second one (the
    # per-query n_exact aggregate) re-runs the whole brute-force
    # scan+window when shuffle-exchange reuse does not fire (at 100 TB
    # an extra full corpus pass per report), and an eager
    # localCheckpoint of the tiny exact result costs +0.3-1.0 s of
    # fixed blocking-job overhead per report at sf0.1.  n_exact is DERIVABLE
    # without consuming ``exact`` at all — cosine_topk emits, for each
    # query id q present in the corpus, min(k, N − c_q) rows (N corpus
    # rows, c_q rows carrying id q; self-pairs excluded, row_number
    # caps at k) — so the panel comes from one pushed-filter scan of
    # the query ids plus one column-pruned count-star, and ``exact``
    # has a SINGLE consumer: the O(n·q) scan runs exactly once per
    # report with no materialization and no extra action.  The
    # n_exact > 0 guard keeps the omit-when-empty behavior
    # for the degenerate single-row corpus.
    exact = cosine_topk(embeddings, query_ids, k, vec_col, id_col)
    if method == "ivf":
        approx = cosine_topk_ivf(embeddings, query_ids, k, vec_col, id_col)
    elif method == "lsh":
        approx = cosine_topk_lsh(embeddings, query_ids, k, vec_col, id_col)
    elif method == "adc":
        # m=16 to match emb_pq_adc_topk: 8-byte codes, the 32×
        # compression point whose recall this report prices.
        approx = pq_adc_topk(
            embeddings, query_ids, k, id_col, vec_col, m=16
        )
    elif method == "ivfpq":
        # The composed FAISS-style deployment (probe pruning + ADC
        # scoring of candidates only, m=16 like emb_ivf_pq_topk):
        # recall here is bounded by BOTH quantizers, which is why the
        # composition gets its own graded number.
        approx = ivf_pq_topk(
            embeddings, query_ids, k, id_col, vec_col, m=16
        )
    else:
        raise ValueError(f"unknown ANN method {method!r}")
    e = exact.select("query_id", F.col("neighbor_id").alias("__nid"))
    a = approx.select("query_id", F.col("neighbor_id").alias("__nid"))
    total = embeddings.select(F.count(F.lit(1)).alias("__N"))
    n_exact = (
        embeddings.where(F.col(id_col).isin(*query_ids))
        .groupBy(F.col(id_col).alias("query_id"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .crossJoin(F.broadcast(total))
        .select(
            "query_id",
            F.least(F.lit(k).cast("bigint"), F.col("__N") - F.col("__c"))
            .alias("n_exact"),
        )
        .where(F.col("n_exact") > 0)
    )
    n_hits = (
        e.join(a, ["query_id", "__nid"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    return (
        n_exact.join(n_hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("__hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0))
                / F.col("n_exact"),
                6,
            ).alias("recall"),
        )
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    nlist: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file index): a KMeans
    coarse quantizer partitions the vectors into ``nlist`` cells; each
    query probes its ``nprobe`` nearest cells and exact-reranks only the
    vectors inside them.  The other classic ANN scale path next to LSH —
    on clustered real-world embeddings IVF prunes harder because cells
    follow the data distribution instead of random hyperplanes.

    ``nprobe=None`` (the default) auto-tunes via
    ``suggest_ivf_nprobe``: the isotropic worst case is ceil(nlist/2)
    (a fixed probe count at growing nlist is a shrinking probed
    fraction and recall decays, measured sf1 recall@10 as low as 0.0
    at a fixed 8), and the law is STRUCTURE-AWARE — the training
    sample's top1−top2 cell-cosine margin
    (``_ivf_sample_margin_micro``) moves the fraction down to the floor
    on clustered data (measured n=20k: isotropic 35/70 recall 0.88,
    clustered σ=.06 8/70 recall 1.0, σ=.12 28/70 recall 1.0 —
    SCALE_CLUSTERED.json).  The DuckDB oracle replays the identical
    integer statistic and law from the training-replay CTEs.

    The quantizer is INTEGER-EXACT spherical-assignment k-means trained
    on a bounded hash-selected sample (``_sample_kmeans_int``), with
    assignment via one Arrow-batched integer matmul: the FAISS pattern
    (training is O(sample) however big the table) with every boundary
    decision made on exact integers, so the oracle replays the whole
    pipeline bit-for-bit — cell seeds, Lloyd rounds, final assignment,
    probe order — the way the hyperplane-LSH queries do
    (``bucket_keys``).  Candidate generation is an equi-join on the cell
    id; the centroid matrix is the only driver-side state beyond the
    query vectors.

    Same output columns and cosine as ``cosine_topk``; recall measured
    by pytest.
    """
    base = embeddings.select(
        F.col(id_col).alias("__id"),
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ).alias("__x"),
    )
    n_rows = base.count()
    if nlist is None:
        nlist = max(4, int(n_rows ** 0.5 / 2))

    # The centroid matrix (nlist × dim, int64) broadcasts in the UDF
    # closure.  Assignment and probing run on the RAW vector (argmax
    # over cells of dot(x,c)/|c| is invariant to |x|).
    base = base.persist()
    centers, Xs = _sample_kmeans_int(base, nlist, n_rows, return_sample=True)
    if nprobe is None:
        # Structure-aware default — the training sample's top1−top2
        # margin decides the probed fraction (oracle replays the
        # identical integer statistic + law).
        nprobe = _auto_nprobe(
            nlist, n_rows, _ivf_sample_margin_micro(Xs, centers)
        )
    assigned = (
        base.withColumn("__cell", _int_cell_assigner(centers)(F.col("__x")))
        .withColumn("__n", F.sqrt(_dot(F.col("__x"), F.col("__x"), dim)))
        .persist()
    )
    assigned.count()  # materialize before the probe join
    base.unpersist()
    qrows = assigned.where(F.col("__id").isin(*query_ids)).collect()
    # Probe order: exact-integer cosine, ties -> smallest cell (stable
    # argsort) — the same deterministic order the oracle's window rank
    # produces.
    probes = [
        (int(row["__id"]), int(cell))
        for row in qrows
        for cell in np.argsort(
            -_int_cos_matrix(
                _quantize_ivf(np.asarray([row["__x"]], dtype=np.float64)),
                centers,
            )[0],
            kind="stable",
        )[: min(nprobe, len(centers))]
    ]
    # Broadcast the (query, probed-cell) list, equi-join it against the
    # cell assignment for candidates, rerank on the module cosine.
    probe_df = embeddings.sparkSession.createDataFrame(
        probes, "query_id bigint, __cell int"
    )
    members = assigned.select("__cell", "__id", "__x", "__n")
    qv = members.select(
        F.col("__id").alias("query_id"),
        F.col("__x").alias("__q"),
        F.col("__n").alias("__nq"),
    ).where(F.col("query_id").isin(*query_ids))
    cos = _dot(F.col("__q"), F.col("__x"), dim) / (
        F.col("__nq") * F.col("__n")
    )
    cand = (
        F.broadcast(probe_df)
        .join(members, "__cell")
        .where(F.col("__id") != F.col("query_id"))
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", F.round(cos, 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("__id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("__id").alias("neighbor_id"), "rank", "cosine")
    )


def vector_norms(
    embeddings: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector L2 norm (rounded 6 dp) — the cheap sanity/feature query."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.round(F.sqrt(_dot(vec_d, vec_d)), 6).alias("l2_norm"),
    )


def class_centroids(
    embeddings: DataFrame,
    class_col,
    vec_col: str = "embedding",
    scale: int = 6,
    as_string: bool = False,
) -> DataFrame:
    """Per-class embedding centroid (class prototypes — the building
    block of semantic dedup, prototype classification, and cluster
    seeding).  ``class_col`` may be a column name or a Column expression.

    Distributed shape: posexplode the vector so the aggregate is a plain
    (class, dim_idx) groupBy — partial aggregation map-side, one
    shuffle, no vector ever collected.  Element sums run in exact
    DECIMAL: double summation order differs across partitionings (and
    engines), so a double sum would flap the oracle; the decimal sum is
    bit-stable at any parallelism (same discipline as tpch.exact_sum).
    Output: (class, n_vectors, centroid array<double> rounded ``scale``).

    ``as_string=True`` emits the centroid as a comma-joined string of
    micro-units (each element ``round(m * 10^scale)`` as int64) instead
    of ``array<double>`` — an engine-portable scalar encoding for
    downstream systems that can't key/hash array columns.  Integer
    micro-units rather than formatted floats: every engine prints
    ``-0.0``/exponents differently, but ``round(m*1e6)`` of an
    already-``scale``-rounded mean is the same integer everywhere.
    """
    cls = F.col(class_col) if isinstance(class_col, str) else class_col
    exploded = embeddings.select(
        cls.alias("class"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__d", "__x"),
    )
    per_dim = exploded.groupBy("class", "__d").agg(
        F.round(
            (
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ),
            scale,
        ).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    if as_string:
        elem = lambda p: (  # noqa: E731
            F.round(p["__m"] * (10**scale), 0).cast("long").cast("string")
        )
        centroid = F.array_join(
            F.transform(F.col("__pairs"), elem), ","
        ).alias("centroid")
    else:
        centroid = F.transform(F.col("__pairs"), lambda p: p["__m"]).alias(
            "centroid"
        )
    return (
        per_dim.groupBy("class")
        .agg(
            F.max("__n").alias("n_vectors"),
            F.array_sort(
                F.collect_list(F.struct(F.col("__d"), F.col("__m")))
            ).alias("__pairs"),
        )
        .select("class", "n_vectors", centroid)
    )


def quantize_int8(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 scalar quantization accounting — the compression
    audit a vector pipeline runs before shipping embeddings to an ANN
    index (FAISS SQ8 / Milvus IVF_SQ8 layout): per vector,
    ``scale = max|x| / 127`` and ``code_i = round(x_i / scale)``.

    Emits per-vector summary stats, all engine-portable scalars:
    ``n_dims``, ``amax`` (the scale numerator, rounded 6dp — an
    order-free max, never an aggregated float sum), ``sum_codes``
    (integer checksum of the code vector), ``n_saturated`` (codes at
    ±127), and ``max_err_micro`` (worst per-dim reconstruction error
    ×1e6 as int64 — per-element double math is bit-identical across
    engines, and the max is order-free, so no float-sum flap).

    Pure array expressions, no shuffle, no Python — but STAGED:
    higher-order functions evaluate interpreted, and a subtree
    referenced inside a lambda re-evaluates PER ELEMENT, so inlining
    ``amax``/``scale``/``codes`` into every consumer made each row cost
    O(dims²) re-walks of the whole chain (measured 7.2 s for a
    map-only scan at sf0.1; ~0.5 s staged).  Each intermediate is
    computed once per row in its own projection and lambdas reference
    plain columns.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.size(F.col(vec_col)).cast("bigint").alias("n_dims"),
            vec.alias("__v"),
        )
        .withColumn("__amax", F.array_max(F.transform(F.col("__v"), F.abs)))
        .withColumn(
            "__scale",
            F.when(F.col("__amax") > 0, F.col("__amax") / F.lit(127.0))
            .otherwise(F.lit(1.0)),
        )
        .withColumn(
            "__codes",
            F.transform(
                F.col("__v"),
                lambda x: F.round(x / F.col("__scale"), 0).cast("bigint"),
            ),
        )
    )
    err_micro = F.zip_with(
        F.col("__v"),
        F.col("__codes"),
        lambda x, c: F.round(
            F.abs(x - c * F.col("__scale")) * 1e6, 0
        ).cast("bigint"),
    )
    return staged.select(
        "vec_id",
        "n_dims",
        F.round(F.col("__amax"), 6).alias("amax"),
        F.aggregate(
            F.col("__codes"), F.lit(0).cast("bigint"), lambda a, c: a + c
        ).alias("sum_codes"),
        F.size(F.filter(F.col("__codes"), lambda c: F.abs(c) == 127))
        .cast("bigint")
        .alias("n_saturated"),
        F.array_max(err_micro).alias("max_err_micro"),
    )


def _same_cell_near_dups(
    vecs: DataFrame, threshold: float, dim: int, *dup_cols: str
) -> DataFrame:
    """Every same-cell pair (keep_id < dup_id) of ``vecs`` (``__cell``,
    ``__id``, raw double ``__x``, its norm ``__n``) whose cosine
    ``_dot(xa, xb) / (na * nb)`` meets ``threshold``, carrying
    ``dup_cols`` from the dup side.  ``semantic_dedup`` and its
    invariants both read this one pair set.  Thresholded on the
    UNROUNDED cosine, computed in a SELECT after the cell equi-join
    (module convention; never inside a join condition)."""
    left = vecs.select(
        "__cell",
        F.col("__id").alias("keep_id"),
        F.col("__x").alias("__xa"),
        F.col("__n").alias("__na"),
    )
    right = vecs.select(
        "__cell",
        F.col("__id").alias("dup_id"),
        F.col("__x").alias("__xb"),
        F.col("__n").alias("__nb"),
        *dup_cols,
    )
    cos = _dot(F.col("__xa"), F.col("__xb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    return (
        left.join(right, "__cell")
        .where(F.col("keep_id") < F.col("dup_id"))
        .withColumn("__cos", cos)
        .where(F.col("__cos") >= threshold)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    nlist: int | None = None,
) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with a coarse k-means
    quantizer, then WITHIN each cluster mark a vector as a duplicate if
    its cosine to a lower-id cluster member meets ``threshold``.  One
    representative per duplicate group survives — the paper keeps a
    random member; this determinizes to the smallest id so reruns and
    engines agree.

    Output: one row per input vector — ``vec_id``, ``cell`` (cluster),
    ``kept`` (false ⇔ removed as a semantic duplicate), ``dup_of`` (the
    smallest-id earlier member it duplicated, NULL when kept).
    ``dup_of`` is the RAW nearest lower-id same-cell match, not a
    transitively-resolved representative: on a chain a~b, b~c with
    a!~c, both b and c are removed and c.dup_of == b even though b was
    itself removed.  Downstream representative substitution should
    follow the dup_of pointers to a kept root (a bounded walk: ids
    strictly decrease along the chain).

    The quantizer is integer-exact (``_sample_kmeans_int`` /
    ``_int_cell_assigner``, the IVF recipe), so the whole pipeline —
    quantizer training, cell assignment, within-cell cosine dedup —
    replays bit-for-bit in a DuckDB oracle, and the cells, kept flags
    and dup_of pointers are hash-checked (``docs_semantic_dedup``):

    * seeds are the first ``nlist`` sample rows.  A near-dup pair can
      seed two cells and stay split; that is a CROSS-cell recall miss,
      the class the SemDedup contract concedes (within a cell every
      pair meeting the threshold is caught).
    * within-cell cosines run on the RAW double vectors with the
      left-to-right dot fold (``_dot``) — the exact IEEE op shape
      DuckDB's ``list_dot_product`` repeats, the
      ``cosine_near_dup_pairs`` parity precedent.  Normalizing to unit
      vectors first would add a division whose placement differs
      between engines.

    Scale posture (100 TB): the classic SemDedup trick IS the cluster
    prune — cosine pairs are only computed inside a cell, never across
    the corpus.  With nlist ~ sqrt(n) the expected cell size is sqrt(n),
    bounding per-cell pair work; hot cells are real data skew the paper
    accepts (AQE skew-split handles the join).  Training reads a bounded
    hash-deterministic sample (the driver holds the nlist×dim int64
    centroid matrix only), assignment is one Arrow-batched argmax
    matmul, the pair join is a cell equi-join, and the dup-map groupBy
    shuffles 16-byte id pairs.  Output is eagerly finalized
    (``_cache.finalize``), releasing the assigned cache.
    """
    base = embeddings.select(
        F.col(id_col).alias("__id"),
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ).alias("__x"),
    )
    n_rows = base.count()
    if nlist is None:
        nlist = max(4, int(n_rows ** 0.5 / 2))
    base = base.persist()
    C = _sample_kmeans_int(base, nlist, n_rows)
    assigned = (
        base.withColumn("__cell", _int_cell_assigner(C)(F.col("__x")))
        .withColumn("__n", F.sqrt(_dot(F.col("__x"), F.col("__x"), dim)))
        .persist()
    )
    assigned.count()  # materialize before the self-join
    base.unpersist()
    dup_map = (
        _same_cell_near_dups(assigned, threshold, dim)
        .groupBy("dup_id")
        .agg(F.min("keep_id").alias("dup_of"))
    )
    out = (
        assigned.select(
            F.col("__id").alias("vec_id"),
            F.col("__cell").cast("bigint").alias("cell"),
        )
        .join(
            dup_map.select(F.col("dup_id").alias("vec_id"), "dup_of"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id", "cell", F.col("dup_of").isNull().alias("kept"), "dup_of"
        )
    )
    from k8stream_spark.analytics._cache import finalize

    return finalize(out, assigned)


def semantic_dedup_invariants(
    embeddings: DataFrame,
    threshold: float = 0.85,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    nlist: int | None = None,
) -> DataFrame:
    """Three integer properties of ``semantic_dedup`` that hold for ANY
    cell assignment, so an oracle grades them without reproducing the
    quantizer:

    * ``n_vectors`` — every input vector appears exactly once in the
      output (coverage; the left join drops/duplicates nothing).
    * ``same_cell_missed_pairs`` — 0: for every same-cell pair (a < b)
      with unrounded cosine ≥ threshold, b was removed.  This is the
      SemDedup within-cell completeness guarantee (the documented recall
      tradeoff is CROSS-cell pairs only).  The pairs are scored by the
      operator's own ``_same_cell_near_dups`` over the raw double
      vectors, so the pair set checked is the pair set it saw.
    * ``dup_without_pointer`` — 0: every removed vector carries a
      ``dup_of`` pointer to the lower-id member that evicted it.

    One row of integers; the oracle asserts the property values (count
    from the table, zeros for the violation counters).  The operator's
    output is persisted because both the totals and the pair check read
    it."""
    res = semantic_dedup(
        embeddings, threshold, vec_col, id_col, dim=dim, nlist=nlist
    ).persist()
    raw = embeddings.select(
        F.col(id_col).alias("__id"),
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ).alias("__x"),
    ).withColumn("__n", F.sqrt(_dot(F.col("__x"), F.col("__x"), dim)))
    tagged = res.select(
        F.col("vec_id").alias("__id"), F.col("cell").alias("__cell"), "kept"
    ).join(raw, "__id")
    # All three properties reduce to global scalars, so the forced
    # single-partition exchanges are the semantically-required kind
    # (PLANS.md convention); nothing per-row reaches the driver.
    missed = (
        _same_cell_near_dups(tagged, threshold, dim, "kept")
        .agg(
            F.sum(F.col("kept").cast("bigint"))
            .cast("bigint")
            .alias("same_cell_missed_pairs")
        )
        .na.fill(0)
    )
    totals = res.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((~F.col("kept") & F.col("dup_of").isNull()).cast("bigint"))
        .cast("bigint")
        .alias("dup_without_pointer"),
    )
    return totals.crossJoin(missed).select(
        "n_vectors", "same_cell_missed_pairs", "dup_without_pointer"
    )


#: Product-quantization defaults: m subspaces × k codes.  k=16 keeps a
#: code in 4 bits (a 64-dim vector compresses to m·4 = 16 bits + norms),
#: and codebook training reuses the IVF discipline: bounded hash-selected
#: sample, integer-exact arithmetic, fixed Lloyd rounds.
_PQ_M = 4
_PQ_K = 16


def _int_sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact squared L2 between every (row of X) × (row of C) of
    quantized int64 vectors, computed as ``|x|² − 2x·c + |c|²`` in
    float64 BLAS — same exactness argument as ``_int_cos_matrix``
    (every term and partial sum ≤ ~6.4e9 < 2^53 is an exactly-
    representable float64, so the result is the exact integer), and
    measured ~50× faster than the broadcast int64 subtract-square."""
    Xf, Cf = X.astype(np.float64), C.astype(np.float64)
    return (
        np.einsum("ij,ij->i", Xf, Xf)[:, None]
        - 2.0 * (Xf @ Cf.T)
        + np.einsum("ij,ij->i", Cf, Cf)[None, :]
    )


def _pq_codebooks(
    base: DataFrame,
    dim: int,
    m: int,
    k: int,
    n_rows: int,
    max_train: int = _IVF_MAX_TRAIN,
    iters: int = _IVF_ITERS,
) -> np.ndarray:
    """Integer-exact per-subspace k-means codebooks for product
    quantization — the PQ twin of ``_sample_kmeans_int``.  Same
    deterministic sample (sha256 permille, (hash, id) order, capped at
    ``max_train``), same 1e4 coordinate quantization, same rounded-mean
    update; assignment differs: PQ minimizes the EXACT int64 squared L2
    distance within each subspace (ties → smallest code), so the whole
    training loop is pure integer comparisons — no doubles anywhere, not
    even the IVF cosine's correctly-rounded sqrt.

    Returns the (m × k × dim/m) int64 codebook tensor — the only
    driver-side state; at any corpus size the driver work is O(sample).
    """
    _check_max_train(max_train)
    permille = max(1, min(1000, max_train * 1000 // max(1, n_rows)))
    hcol = F.conv(
        F.substring(F.sha2(F.col("__id").cast("string"), 256), 1, 15), 16, 10
    ).cast("bigint") % 1000
    rows = (
        base.select("__id", "__x", hcol.alias("__h"))
        .where(F.col("__h") < permille)
        .orderBy("__h", "__id")
        .limit(max_train)
        .collect()
    )
    X = _quantize_ivf(np.asarray([r["__x"] for r in rows], dtype=np.float64))
    if len(X) < k:
        raise ValueError(
            f"sample ({len(X)}) smaller than k ({k}); "
            "raise max_train or lower k"
        )
    sub = dim // m
    books = np.empty((m, k, sub), dtype=np.int64)
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[:k].copy()
        for _ in range(iters):
            # exact squared distances; argmin's first-min = lowest code
            d2 = _int_sq_dists(Xj, C)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                mem = Xj[assign == c]
                if len(mem):
                    s = mem.sum(axis=0)
                    mm = len(mem)
                    # identical double FLOOR expression to the SQL oracle
                    C[c] = np.floor((2 * s + mm) / (2.0 * mm)).astype(
                        np.int64
                    )
        books[j] = C
    return books


def _pq_encoder(books: np.ndarray, dim: int):
    """Arrow-batched PQ encoding over the raw double vector column: one
    quantize + m small integer distance matrices per batch, argmin per
    subspace (first-min ties = lowest code), exact int64 reconstruction
    error accumulated across subspaces.  The codebook tensor broadcasts
    in the UDF closure."""
    m, k, sub = books.shape

    @pandas_udf("codes array<int>, err bigint")
    def enc(x: pd.Series) -> pd.DataFrame:
        if x.empty:
            return pd.DataFrame({"codes": [], "err": []})
        Q = _quantize_ivf(np.vstack(x.to_numpy()).astype(np.float64))
        codes = np.empty((len(Q), m), dtype=np.int32)
        err = np.zeros(len(Q), dtype=np.int64)
        for j in range(m):
            Qj = Q[:, j * sub : (j + 1) * sub]
            d2 = _int_sq_dists(Qj, books[j])
            cj = np.argmin(d2, axis=1)
            codes[:, j] = cj
            err += d2[np.arange(len(Q)), cj].astype(np.int64)
        return pd.DataFrame({"codes": list(codes.tolist()), "err": err})

    return enc


def pq_encode(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = _PQ_M,
    k: int = _PQ_K,
    max_train: int = _IVF_MAX_TRAIN,
    iters: int = _IVF_ITERS,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011, the FAISS IVF-PQ
    compression half): each vector splits into ``m`` subvectors, each
    subvector maps to its nearest of ``k`` per-subspace centroids, and
    the vector is stored as ``m`` small codes — here with the exact int64
    reconstruction error (in quantized-coordinate² units) kept alongside,
    the accounting a compression stage reports.

    Everything boundary-deciding is EXACT INTEGER arithmetic (quantized
    coordinates, squared L2, first-min ties), so a SQL oracle replays
    codebook training + assignment bit-for-bit — this is the strongest
    checkability class: unlike IVF's cosine there is no float anywhere.

    Scale shape: training is O(bounded sample) on the driver (FAISS
    rule); encoding is one Arrow-batched pass, no shuffle at all — the
    output is a projection of the input partitioning.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(
        F.col(id_col).alias("__id"), raw.alias("__x")
    )
    n_rows = base.count()
    books = _pq_codebooks(base, dim, m, k, n_rows, max_train, iters)
    out = base.withColumn("__e", _pq_encoder(books, dim)(F.col("__x")))
    return out.select(
        F.col("__id").alias(id_col),
        *[F.col("__e.codes")[j].alias(f"code_{j}") for j in range(m)],
        F.col("__e.err").alias("recon_err"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = _PQ_M,
    n_codes: int = _PQ_K,
    max_train: int = _IVF_MAX_TRAIN,
    iters: int = _IVF_ITERS,
) -> DataFrame:
    """Compressed-domain top-k via PQ asymmetric distance computation
    (ADC, Jégou et al. 2011 §IV): vectors are searched through their PQ
    codes alone — each query precomputes per-subspace lookup tables
    against the codebook centroids, and a vector's score is m table
    lookups summed.  This is the search half of IVF-PQ: the scan reads
    2 bytes of codes instead of 256 bytes of floats per row.

    The score ranks by the COSINE of the query against the vector's PQ
    reconstruction, from exact integer parts (the ``_int_cos_matrix``
    recipe): ``a = Σ_j q_j·c[code_j]`` and ``n2 = Σ_j |c[code_j]|²`` are
    exact int64 table lookups, and ``a/sqrt(n2)`` is two correctly-
    rounded IEEE ops — bit-identical in any engine.  (The emitted
    ``adc_cos`` is |q|·cos — the query's own norm is constant per
    query so the ranking is the cosine ranking; dividing it out would
    add a float with no effect on order.)  Cosine, not raw L2: L2 over
    unnormalized vectors would rank short vectors first, where the exact
    baseline is norm-invariant.

    Scoring is PURE CODEGEN: the tables are array literals baked into
    the projection (m·n_codes ints per query + one shared norm table),
    each lookup is ``array[code_j]``, the per-query fan-out one inline
    explode — no Python touches the scan, and the only shuffle is the
    per-query top-k window over (query, id, int, int) rows.  Recall is
    bounded by quantization (the classic deployment composes IVF probing
    with ADC) — measured against exact cosine in pytest.
    """
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(F.col(id_col).alias("__id"), raw.alias("__x"))
    n_rows = base.count()
    books = _pq_codebooks(base, dim, m, n_codes, n_rows, max_train, iters)
    codes = base.withColumn("__e", _pq_encoder(books, dim)(F.col("__x")))

    # Shared centroid-norm lookup: n2 = Σ_j |c[code_j]|² (exact int64).
    n2_tables = [
        np.einsum("ij,ij->i", b.astype(np.float64), b.astype(np.float64))
        .astype(np.int64)
        for b in books
    ]
    n2_cols = [
        F.array(*[F.lit(int(v)) for v in tbl])[F.col("__e.codes")[j]]
        for j, tbl in enumerate(n2_tables)
    ]
    n2 = n2_cols[0]
    for c in n2_cols[1:]:
        n2 = n2 + c

    qrows = base.where(F.col("__id").isin(*query_ids)).collect()
    sub = dim // m
    structs = []
    for r in qrows:
        qv = _quantize_ivf(np.asarray([r["__x"]], dtype=np.float64))[0]
        parts = []
        for j in range(m):
            # q_j · c for every code — float64 BLAS on exact integers
            table = (
                books[j].astype(np.float64)
                @ qv[j * sub : (j + 1) * sub].astype(np.float64)
            ).astype(np.int64)
            parts.append(
                F.array(*[F.lit(int(d)) for d in table])[
                    F.col("__e.codes")[j]
                ]
            )
        a = parts[0]
        for p in parts[1:]:
            a = a + p
        structs.append(
            F.struct(
                F.lit(int(r["__id"])).cast("bigint").alias("query_id"),
                a.cast("bigint").alias("a"),
            )
        )
    scored = (
        codes.select(
            F.col("__id").alias("neighbor_id"),
            n2.cast("bigint").alias("__n2"),
            F.explode(F.array(*structs)).alias("__q"),
        )
        .select(
            F.col("__q.query_id").alias("query_id"),
            "neighbor_id",
            F.when(F.col("__n2") == 0, F.lit(-2.0))
            .otherwise(
                F.col("__q.a").cast("double")
                / F.sqrt(F.col("__n2").cast("double"))
            )
            .alias("adc_cos"),
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_cos")
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nlist: int | None = None,
    nprobe: int | None = None,
    m: int = _PQ_M,
    n_codes: int = _PQ_K,
    max_train: int = _IVF_MAX_TRAIN,
    iters: int = _IVF_ITERS,
) -> DataFrame:
    """The composed FAISS search path — IVF-PQ: the integer-exact IVF
    coarse quantizer prunes the table to each query's ``nprobe`` nearest
    cells (``nprobe=None`` auto-tunes via ``suggest_ivf_nprobe``,
    structure-aware via the sample margin, replayed by the oracle — see
    ``cosine_topk_ivf``), and PQ
    asymmetric-distance tables score ONLY those candidates
    through their codes (the ``pq_adc_topk`` reconstruction-cosine).
    Both index halves train on the same bounded hash-selected sample;
    every boundary decision (cell argmax, code argmin, ADC lookups) is
    exact integer arithmetic, so the DuckDB oracle replays BOTH
    quantizer trainings and the search end to end, bit for bit.

    Scale shape: candidates come from one broadcast equi-join on the
    cell id (nprobe/nlist of the table per query); scoring is codegen
    lookup-table literals over the 2-16 B codes — the float payload is
    never rejoined; the only shuffle is the per-query top-k window.
    Driver state = the two codebook tensors + query vectors, all
    O(sample)-bounded.
    """
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(F.col(id_col).alias("__id"), raw.alias("__x"))
    n_rows = base.count()
    if nlist is None:
        nlist = max(4, int(n_rows ** 0.5 / 2))

    base = base.persist()
    centers, Xs = _sample_kmeans_int(
        base, nlist, n_rows, max_train, return_sample=True
    )
    if nprobe is None:
        # Same structure-aware default as cosine_topk_ivf (and the
        # same oracle-replayed integer statistic).
        nprobe = _auto_nprobe(
            nlist, n_rows, _ivf_sample_margin_micro(Xs, centers)
        )
    books = _pq_codebooks(base, dim, m, n_codes, n_rows, max_train, iters)
    encoded = (
        base.withColumn("__cell", _int_cell_assigner(centers)(F.col("__x")))
        .withColumn("__e", _pq_encoder(books, dim)(F.col("__x")))
        .persist()
    )
    encoded.count()  # materialize before the probe join
    base.unpersist()

    qrows = encoded.where(F.col("__id").isin(*query_ids)).collect()
    # probe order: exact-integer cosine to the IVF centroids (stable
    # argsort = smallest-cell ties), the _int_cell_assigner's twin
    probes = [
        (int(r["__id"]), int(cell))
        for r in qrows
        for cell in np.argsort(
            -_int_cos_matrix(
                _quantize_ivf(np.asarray([r["__x"]], dtype=np.float64)),
                centers,
            )[0],
            kind="stable",
        )[: min(nprobe, len(centers))]
    ]
    spark = embeddings.sparkSession
    probe_df = spark.createDataFrame(probes, "query_id bigint, __cell int")

    # shared centroid-norm lookup + per-query dot tables (pq_adc_topk's)
    sub = dim // m
    n2_tables = [
        np.einsum("ij,ij->i", b.astype(np.float64), b.astype(np.float64))
        .astype(np.int64)
        for b in books
    ]
    n2_cols = [
        F.array(*[F.lit(int(v)) for v in tbl])[F.col("__e.codes")[j]]
        for j, tbl in enumerate(n2_tables)
    ]
    n2 = n2_cols[0]
    for c in n2_cols[1:]:
        n2 = n2 + c
    a_expr = None
    for r in qrows:
        qv = _quantize_ivf(np.asarray([r["__x"]], dtype=np.float64))[0]
        parts = []
        for j in range(m):
            table = (
                books[j].astype(np.float64)
                @ qv[j * sub : (j + 1) * sub].astype(np.float64)
            ).astype(np.int64)
            parts.append(
                F.array(*[F.lit(int(d)) for d in table])[
                    F.col("__e.codes")[j]
                ]
            )
        a_q = parts[0]
        for p in parts[1:]:
            a_q = a_q + p
        cond = F.col("query_id") == int(r["__id"])
        a_expr = (
            F.when(cond, a_q)
            if a_expr is None
            else a_expr.when(cond, a_q)
        )

    cand = (
        F.broadcast(probe_df)
        .join(encoded.select("__id", "__cell", "__e"), "__cell")
        .where(F.col("__id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        F.when(n2.cast("bigint") == 0, F.lit(-2.0))
        .otherwise(
            a_expr.cast("double") / F.sqrt(n2.cast("double"))
        )
        .alias("adc_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_cos")
    )


def _rp_sign(j: int, i: int, seed: str = "rp-v1") -> int:
    """±1 sign for output dim j, input dim i — parity of the first hex
    nibble of md5(f"{seed}:{j}:{i}").  md5 is a builtin on every engine
    this repo oracles against, so the DuckDB side regenerates the exact
    same matrix from the same public recipe (the ``_plane_weights``
    argument, applied to Achlioptas/JL sign matrices)."""
    h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
    return -1 if int(h[0], 16) % 2 else 1


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp-v1",
) -> DataFrame:
    """Johnson–Lindenstrauss random sign projection dim → out_dim — the
    standard dimensionality squeeze in front of LSH/clustering when the
    raw embedding width makes candidate generation IO-bound (Achlioptas
    2003: a ±1 sign matrix preserves pairwise distances as well as a
    Gaussian one).  At 100 TB this is the difference between shuffling
    64-float vectors and 16-long vectors through every downstream join.

    Integer-exact end to end: each input component is quantized to micro
    units (``floor(x·1e6 + 0.5)`` — the ``bucket_keys`` convention, one
    identically-rounded IEEE op per element), and each output component
    is a ±1-weighted int64 sum, which no summation order can perturb.
    Output is long format (vec_id, proj_dim, v_micro).

    ZERO shuffles: the projection is a per-row map and the long-format
    unpivot is a posexplode — no exchange anywhere.  Like ``bucket_keys``
    (same shape: a dense (n × dim)·(dim × out_dim) matmul), the unrolled
    expression form is NOT viable — 1024 multiply-add terms inside the
    posexplode Generate fails janino compilation outright (ERROR
    CodeGenerator, measured) and silently falls back to interpreted
    eval — so this is the prescribed Arrow-vectorized Pandas UDF: one
    exact int64 numpy matmul per Arrow batch, sign matrix shipped once
    in the closure.
    """
    S = np.asarray(
        [
            [_rp_sign(j, i, seed) for i in range(dim)]
            for j in range(out_dim)
        ],
        dtype=np.int64,
    )  # (out_dim, dim)

    @pandas_udf("array<long>")
    def project(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dim)
        # floor(x·1e6 + 0.5): identical correctly-rounded IEEE ops to the
        # Spark/DuckDB expression form.  |q| ≤ ~5e6 · dim 64 → |out| ≤
        # 3.3e8, far inside int64; the matmul is exact integer math.
        VQ = np.floor(V * 1e6 + 0.5).astype(np.int64)
        out = VQ @ S.T  # (n, out_dim)
        return pd.Series(list(out))

    # asNondeterministic: the two-select posexplode shape
    # makes the optimizer push Generate's implicit size/isnotnull
    # filter below the projection and evaluate the (pure) matmul UDF
    # twice per row — 2 ArrowEvalPython nodes in the executed plan
    # (plans/r15/emb_random_projection_{before,after}.txt).  The fence
    # yields a single evaluation: half the Python matmul CPU at any
    # scale (sf0.1 wall time is noise-bound; the plan diff is the
    # evidence).
    staged = embeddings.select(
        F.col(id_col), project.asNondeterministic()(F.col(vec_col)).alias("__p")
    )
    return staged.select(
        id_col, F.posexplode(F.col("__p")).alias("proj_dim", "v_micro")
    ).select(
        id_col,
        F.col("proj_dim").cast("bigint").alias("proj_dim"),
        "v_micro",
    )


def knn_graph_mutual(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Mutual k-NN graph: undirected edges (a, b), a < b, where b is in
    a's cosine top-k AND a is in b's — the standard graph construction
    for density-based corpus curation (mutual edges prune the hub
    vectors that plain kNN graphs over-connect).  Downstream of this
    edge list sits the same connected-components pass the dedup layer
    already runs (``dedup_clusters``).

    This is the exact BASELINE: an O(n²) diagonal self-join scored with
    the left-to-right dot fold (``_dot``), computing each unordered
    pair ONCE (a < b) and deriving both directions from it — at 100 TB
    candidates come from ``bucket_keys`` LSH buckets or the IVF cells
    instead, and the rank/mutual stages below apply unchanged to that
    pruned pair stream (the pytest recall harness quantifies the swap).
    Ranking uses the rounded cosine with an id tiebreak — deterministic
    and engine-portable (the ``cosine_topk`` convention).  The rank
    window shuffles (id, id, cosine) rows only; vectors never leave the
    scoring join.
    """
    # Norms are per-ROW quantities: compute them once in each side's
    # projection instead of re-running two extra 64-term dots per PAIR
    # (3× the pair-stage flops).  The pair expression keeps the oracle's
    # exact op shape — dot / (na·nb) with na, nb each sqrt(self-dot) —
    # so the 6-dp rounding cannot diverge.
    base = embeddings.select(
        F.col(id_col).alias("__id"),
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ).alias("__v"),
    ).withColumn("__n", F.sqrt(_dot(F.col("__v"), F.col("__v"), dim)))
    # The O(n²) scoring parallelism is the STREAM side's partition count
    # — the fixture parquet is one file/one partition, which would run
    # the whole quadratic stage on a single core (measured: 53 s single
    # -partition → 7.5 s spread, sf0.1).  _spread shuffles the n
    # id+vector rows only in that starved case; a cluster-scale input
    # that already arrives partitioned passes through with no exchange.
    a = _spread(base, "__id").select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = _dot(F.col("__va"), F.col("__vb"), dim) / (
        F.col("__na") * F.col("__nb")
    )
    # Persist the scored halves: the union below reads them twice and
    # without a cache each branch re-runs the whole O(n²) scoring join.
    # Cached rows are (id, id, double) triples; the vectors never leave
    # the scoring stage.
    half = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .persist()
    )
    return _mutual_topk(half, k)


def _mutual_topk(half: DataFrame, k: int) -> DataFrame:
    """Shared rank + mutual tail over a scored unordered-pair frame
    (id_a < id_b, cosine rounded 6 dp): rank both directions per source,
    keep top-k, emit pairs present in BOTH top-k lists once (a < b).
    Consumed by the exact diagonal join and the LSH-candidate variant —
    everything here is id-sized; vectors never reach these stages.

    Takes ownership of the persisted ``half``: the returned edge list
    (≤ n·k rows) is eagerly materialized and both caches released
    before return (``_cache.finalize``), so back-to-back graph queries
    in one session don't accumulate the O(pairs) scored frames."""
    # Both directions from the one scored half — the pair stream doubles
    # AFTER the vectors are dropped, so the rank shuffle carries 24-byte
    # rows.
    directed = half.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "cosine"
    ).unionByName(
        half.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "cosine"
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine").desc(), F.col("dst").asc()
    )
    # topk also has two consumers (forward edges + the reversed probe).
    topk = directed.withColumn(
        "__r", F.row_number().over(w)
    ).where(F.col("__r") <= k).persist()
    fwd = topk.select("src", "dst", "cosine")
    rev = topk.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    out = (
        fwd.join(rev, ["src", "dst"])
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            "cosine",
        )
    )
    from k8stream_spark.analytics._cache import finalize

    return finalize(out, topk, half)


def knn_graph_mutual_lsh(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tables: int | None = None,
    bits: int | None = None,
) -> DataFrame:
    """Mutual k-NN graph over LSH-bucketed candidates — the 100 TB form
    of ``knn_graph_mutual``: candidate pairs come from a bucket
    equi-join (``bucket_keys``, integer-exact and oracle-replayable),
    only candidates are scored, and the identical ``_mutual_topk`` tail
    ranks within each vector's candidate set.  Recall < 1 by design
    when a true top-k neighbor shares no bucket; pytest measures edge
    recall against the exact graph, and the DuckDB oracle replays the
    whole pipeline (buckets → candidates → scores → ranks) bit-for-bit,
    so the approximate RESULT is hash-checked, not just bounded.

    Candidates and their scores come from the same LSH stage as
    ``cosine_near_dup_lsh`` (``_lsh_candidates`` + ``_lsh_scored_pairs``:
    16-byte id-pair dedup before any vector is rejoined, the module
    cosine); ``tables``/``bits`` default to the same corpus-size
    auto-tune (``_auto_lsh_params``, oracle-replayed).
    """
    base, n_rows, bucketed = _lsh_candidates(
        embeddings, vec_col, id_col, dim, tables, bits
    )
    half = (
        _lsh_scored_pairs(base, n_rows, bucketed, dim)
        .select("id_a", "id_b", F.round(F.col("__cos"), 6).alias("cosine"))
        .persist()
    )
    # _mutual_topk materializes eagerly and releases half; base/bucketed
    # are only needed while half computes, so release them here too.
    out = _mutual_topk(half, k)
    base.unpersist()
    bucketed.unpersist()
    return out


def semantic_clusters_knn(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-level semantic clusters: connected components over the
    mutual k-NN graph — the embedding-space twin of the text layer's
    ``dedup_clusters`` (SemDedup-adjacent, but graph-derived rather than
    centroid-derived: mutual edges give parameter-free locality without
    training a quantizer).  Returns (vec_id, cluster_id, is_canonical)
    with cluster_id = min member id.

    Composition, not new machinery: edges come from ``knn_graph_mutual``
    (swap in ``knn_graph_mutual_lsh`` at corpus scale — same columns)
    and the fixpoint is the shared ``connected_components`` engine, so
    every scale property proven for the text clusters (id-only shuffle
    rows, O(log diameter) rounds, driver sees only convergence
    checksums) carries over unchanged.
    """
    from k8stream_spark.analytics.dedup import connected_components

    edges = knn_graph_mutual(
        embeddings, k=k, dim=dim, vec_col=vec_col, id_col=id_col
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    out = connected_components(
        embeddings.select(F.col(id_col).alias("doc_id")), edges
    )
    return out.select(
        F.col("doc_id").alias(id_col), "cluster_id", "is_canonical"
    )


def semantic_clusters_knn_lsh(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tables: int | None = None,
    bits: int | None = None,
) -> DataFrame:
    """The 100 TB form of ``semantic_clusters_knn``: connected
    components over the LSH-bucketed mutual k-NN graph
    (``knn_graph_mutual_lsh``) instead of the exact O(n²) one.  Same
    output columns — (vec_id, cluster_id, is_canonical) with
    cluster_id = min member id — and the same shared
    ``connected_components`` fixpoint, so every scale property of the
    text-side clusters carries over; the only change is where the
    edges come from, which is exactly the swap the exact variant's
    docstring promises.  Hash-checked end to end: the LSH graph is
    integer-exact and oracle-replayable, and the CC fixpoint is
    engine-independent (min-label reachability)."""
    from k8stream_spark.analytics.dedup import connected_components

    edges = knn_graph_mutual_lsh(
        embeddings,
        k=k,
        dim=dim,
        vec_col=vec_col,
        id_col=id_col,
        tables=tables,
        bits=bits,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    out = connected_components(
        embeddings.select(F.col(id_col).alias("doc_id")), edges
    )
    return out.select(
        F.col("doc_id").alias(id_col), "cluster_id", "is_canonical"
    )


def mean_center(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension mean centering — the preprocessing step in front of
    PCA/whitening and a known IVF/PQ accuracy lever (centered vectors
    cluster better).  Returns long format (vec_id, d, centered_micro).

    Exactness discipline is the ``class_centroids`` convention: the
    per-dimension sums run in DECIMAL(28,12) (double summation order
    differs across engines/partitionings), the mean is rounded to 6 dp
    ONCE, and each centered value is round(1e6·(x − m)) — after the
    decimal sum, every op is a single correctly-rounded IEEE step any
    engine repeats bit-for-bit.

    Scale: one (dim)-keyed shuffle for the means (64 groups — map-side
    combined, constant-size result), one broadcast join back, zero
    data-sized exchanges.  The posexplode stream carries (id, d, x)
    triples.
    """
    ex = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("d", "__x"),
    )
    means = (
        ex.groupBy("d")
        .agg(
            F.round(
                F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("__m")
        )
    )
    return ex.join(F.broadcast(means), "d").select(
        id_col,
        F.col("d").cast("bigint").alias("d"),
        F.round(
            F.lit(1000000.0) * (F.col("__x") - F.col("__m"))
        ).cast("bigint").alias("centered_micro"),
    )


def standardize(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening): z = (x − m)/s
    in integer micro units — the full preprocessing companion to
    ``mean_center`` (centering + unit variance; what PCA/k-means/PQ
    pipelines apply when dimensions have uneven scales).

    Exactness: m and E[x²] are DECIMAL(28,12) sums rounded to 6 dp once
    (summation-order-proof); s = sqrt(E[x²] − m²) and the final
    round(1e6·(x − m)/s) are single correctly-rounded IEEE steps any
    engine repeats.  A zero-variance dimension standardizes to 0 (not
    NULL/NaN) so downstream folds never poison.  The guard tests the
    VARIANCE (m2 − m²) > 0, never sqrt's result: independent 6-dp
    rounding of m and m2 can make the difference slightly negative for
    constant dimensions (e.g. 1.4999996), sqrt would give NaN, Spark
    treats NaN > 0 as TRUE, and the bigint cast would CAST_OVERFLOW.

    Scale: identical shape to ``mean_center`` — one 64-group shuffle,
    broadcast join back, zero data-sized exchanges.
    """
    ex = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("d", "__x"),
    )
    stats = ex.groupBy("d").agg(
        F.round(
            F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("__m"),
        F.round(
            F.sum(
                (F.col("__x") * F.col("__x")).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("__m2"),
    )
    var = F.col("__m2") - F.col("__m") * F.col("__m")
    z = F.when(
        var > 0, (F.col("__x") - F.col("__m")) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return ex.join(F.broadcast(stats), "d").select(
        id_col,
        F.col("d").cast("bigint").alias("d"),
        F.round(F.lit(1000000.0) * z).cast("bigint").alias("z_micro"),
    )


def _pca_moment_cells(
    embeddings: DataFrame,
    dim: int,
    vec_col: str,
    id_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """The ONE corpus pass behind the whole PCA family: upper-triangle
    moment cells (i, j, __es=Σxᵢxⱼ decimal, __ms=Σxᵢ on the diagonal,
    __n) — optionally keyed by ``label_col`` (as ``__lbl``) for the
    per-class variants.  d(d+1)/2 (× |labels|) rows at any corpus
    size; eagerly checkpointed so every consumer branch (cells, means,
    and the projection reuse) reads the materialized cells instead
    of re-running the n·d² generation.

    The d²-fold generation parallelism is the input's partition count
    — the fixture parquet is one file/one partition, which would run
    the whole n·d² stage on a single core (measured ~25 s single-
    partition vs ~2 s spread at sf0.1).  _spread shuffles the n input
    rows only in that starved case; a cluster-scale input that
    already arrives partitioned passes through with no exchange.

    Three exact shapes of the n·d² generation pass, together ~2.8×
    over the naive plan:
     * the checked+cast array is projected ONCE into ``__a`` —
       otherwise the 64-element transform runs up to 4× per row
       (posexplode's implicit non-empty filter duplicates it into the
       pushed-down Filter and both Generates);
     * only the upper triangle (j ≥ i) is generated — IEEE multiply
       is commutative and decimal sums are order-proof, so the (j, i)
       cell is a bit-exact mirror of (i, j);
     * the per-dimension means come from one n·d pass instead of
       being re-summed inside every one of the d² cells (3 decimal
       accumulators per generated row → 1).  Equivalent to the
       per-cell means whenever all vectors have one length (what
       ``_vec_checked``-validated fixtures and the 64-wide oracle
       provide): every vector then contributes to every cell, so the
       per-cell mean of x_i IS the global mean of x_i.
    Slice to exactly ``dim`` before the explode.
    ``_vec_checked`` admits WIDER vectors (prefix use is legitimate),
    but the diagonal-cell means derivation assumes every vector
    contributes to every cell — a mixed-width corpus would silently
    change c_micro.  Slicing makes widths uniform by construction
    (no-op on exact-width input; one bounded array copy per row,
    nothing against the n·d² generation downstream).
    """
    arr = F.transform(
        _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
    )
    keys = []
    sel = [F.slice(arr, 1, dim).alias("__a")]
    if label_col is not None:
        keys = ["__lbl"]
        sel = [F.col(label_col).alias("__lbl")] + sel
    base = _spread(embeddings, F.col(id_col)).select(*sel)
    exi = base.select(
        *keys, F.posexplode(F.col("__a")).alias("i", "__xi"), "__a"
    )
    tri = exi.select(
        *keys,
        "i",
        "__xi",
        F.posexplode(
            F.slice(
                F.col("__a"), F.col("i") + 1, F.size(F.col("__a")) - F.col("i")
            )
        ).alias("__jo", "__xj"),
    ).withColumn("j", F.col("i") + F.col("__jo"))

    # The per-dimension mean sums ride the DIAGONAL cells of the same
    # aggregation (j == i ⇒ __xi is the raw x_d), so the corpus is
    # scanned exactly once; the conditional accumulator adds one decimal
    # op on n·d of the n·d(d+1)/2 generated rows.
    g = tri.groupBy(*keys, "i", "j").agg(
        F.sum((F.col("__xi") * F.col("__xj")).cast("decimal(28,12)")).alias(
            "__es"
        ),
        F.sum(
            F.when(F.col("j") == F.col("i"), F.col("__xi")).cast(
                "decimal(28,12)"
            )
        ).alias("__ms"),
        F.count(F.lit(1)).alias("__n"),
    )
    # g is d(d+1)/2 rows at ANY corpus size; checkpointing it eagerly
    # stops the mirror union and the two means joins below from
    # re-running the corpus pass once per plan branch (4 scans in the
    # lazy form — verified in the executed plan).
    from k8stream_spark.analytics import _cache

    if _cache.EAGER:
        g = g.localCheckpoint()
    return g


def _pca_means_rows(g: DataFrame, by_label: bool = False) -> list:
    """Collected per-dimension means off the checkpointed moment cells
    — the ``mean_center`` 6-dp recipe (round6(Σx / n) off the diagonal
    cells), bit-identical to a groupBy-means subtree over a second
    corpus pass."""
    keys = ["__lbl"] if by_label else []
    return (
        g.where(F.col("j") == F.col("i"))
        .select(
            *keys,
            F.col("i").alias("d"),
            F.round(F.col("__ms").cast("double") / F.col("__n"), 6).alias(
                "__m"
            ),
        )
        .collect()
    )


def pca_covariance(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Covariance matrix of the embedding distribution in integer micro
    units: (i, j, c_micro) with c_micro = round(1e6·Cov[x_i, x_j]) — the
    input to PCA (top components via ``pca_top_component``) and the
    statistics pass behind whitening / Mahalanobis scoring.

    Uses Cov = E[x_i·x_j] − m_i·m_j on the RAW vectors, so there is no
    centering join: ONE pass generates the (i, j) pair stream with two
    chained posexplodes (n·d² generated rows — generated, not
    shuffled), map-side combines into d² cells, and shuffles a
    CONSTANT-size d²-cell partial per partition.  The only data-sized
    exchange is ``_spread``'s one-time fix-up of a starved local input
    (single-file parquet), SKIPPED when the input already arrives
    partitioned — at 100 TB the whole matrix costs one scan plus a
    4096-row shuffle (d=64).

    Exactness (the ``mean_center`` convention): E[x_i·x_j], m_i, m_j
    are DECIMAL(28,12) sums rounded to 6 dp once; c = round6(e − mi·mj)
    is two correctly-rounded IEEE steps; the final micro cast is the
    house round(1e6·c).  Every value replays bit-for-bit in DuckDB.
    """
    return _pca_cells_from_moments(
        _pca_moment_cells(embeddings, dim, vec_col, id_col)
    )


def _pca_cells_from_moments(g: DataFrame) -> DataFrame:
    """(i, j, c_micro) covariance cells off the checkpointed moment
    frame — the declared ``pca_covariance`` derivation, unchanged."""
    e = F.round(F.col("__es").cast("double") / F.col("__n"), 6)
    cells = g.select("i", "j", e.alias("__e")).unionByName(
        g.where(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            e.alias("__e"),
        )
    )
    means = g.where(F.col("j") == F.col("i")).select(
        F.col("i").alias("d"),
        F.round(F.col("__ms").cast("double") / F.col("__n"), 6).alias("__m"),
    )
    return (
        cells.join(
            F.broadcast(
                means.select(F.col("d").alias("i"), F.col("__m").alias("__mi"))
            ),
            "i",
        )
        .join(
            F.broadcast(
                means.select(F.col("d").alias("j"), F.col("__m").alias("__mj"))
            ),
            "j",
        )
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            F.round(
                F.lit(1000000.0)
                * F.round(F.col("__e") - F.col("__mi") * F.col("__mj"), 6)
            )
            .cast("bigint")
            .alias("c_micro"),
        )
    )


def _pca_cov_means(
    embeddings: DataFrame,
    dim: int,
    vec_col: str,
    id_col: str,
) -> tuple[dict, list[float]]:
    """One covariance pass → (full cov dict incl. the (j, i) mirror,
    per-dimension means list).  Both collects read the checkpointed
    d(d+1)/2 moment-cell frame, so callers that need cov AND means
    (the projections) pay exactly one corpus scan."""
    g = _pca_moment_cells(embeddings, dim, vec_col, id_col)
    # With _cache.EAGER off, g is lazy and the two collects scan the corpus twice.
    cov: dict = {}
    for r in _pca_cells_from_moments(g).collect():
        i, j, c = int(r["i"]), int(r["j"]), int(r["c_micro"])
        cov[(i, j)] = c
    means = [0.0] * dim
    for r in _pca_means_rows(g):
        means[int(r["d"])] = float(r["__m"])
    return cov, means


def _pca_fold_score(
    arr_col: Column, m_arr: Column, v_arr: Column
) -> Column:
    """Per-row projection score as a zero-exchange array fold:
    round(1e6 · Σ_d (x_d − m_d)·v_d) with the cross-dimension sum in
    DECIMAL(28,12) — the identical addend multiset a posexplode →
    broadcast-join → groupBy shape sums, and decimal
    addition is exact and associative at these magnitudes, so the fold
    order cannot change a bit.  Replaces a corpus-sized generate plus
    a per-vector exchange with per-row codegen (guide §2.4)."""
    cent = F.zip_with(arr_col, m_arr, lambda x, m: x - m)
    addend = F.zip_with(
        cent, v_arr, lambda xm, vv: (xm * vv).cast("decimal(28,12)")
    )
    s = F.aggregate(
        addend,
        F.lit(0).cast("decimal(28,12)"),
        lambda a, p: (a + p).cast("decimal(28,12)"),
    )
    return F.round(F.lit(1000000.0) * s.cast("double")).cast("bigint")


def _pca_power_iterate(
    cov: dict[tuple[int, int], int], dim: int, steps: int
) -> tuple[list[int], int]:
    """Driver-side power iteration on the d×d INTEGER covariance —
    fixed-size work (d² int64 cells, the bounded-driver-state precedent
    of ``_sample_kmeans_int``'s centroid matrix), never data-sized.

    Every operation is either exact int64 arithmetic (sums, products,
    floor-divisions) or a single correctly-rounded IEEE-754 step
    (int→double cast, sqrt, one divide, one multiply, +0.5, floor), so
    the whole loop replays BIT-FOR-BIT as an unrolled SQL CTE chain in
    DuckDB — no Decimal-cast semantics, no summation-order hazard
    (integer addition is associative).  Rounding is floor(x + 0.5)
    everywhere: unlike ROUND, both engines and Python agree on it by
    construction (same IEEE ops), and exact .5 ties round identically
    (toward +inf).

    Bounds at dim=64 with |x| ≤ 1: |c_micro| ≤ ~1e6, |v| ≤ 1e6, step
    sums ≤ 64·1e12 < 2^53 (exact in the double casts), norm² ≤ 64·(step
    sum/1e6)² < 2^63.  Returns (v_micro[dim], lambda_micro); a
    zero-spectrum matrix yields the zero vector (guarded, never NaN).
    """
    v = [math.floor(1000000.0 / math.sqrt(dim) + 0.5)] * dim
    lam = 0
    for _ in range(steps):
        w = [
            (
                sum(cov.get((i, j), 0) * v[j] for j in range(dim))
                + 500000
            )
            // 1000000
            for i in range(dim)
        ]
        norm2 = sum(x * x for x in w)
        if norm2 > 0:
            norm = math.sqrt(norm2)
            v = [
                math.floor(1000000.0 * x / norm + 0.5) for x in w
            ]
            lam = math.floor(norm + 0.5)
        else:
            v = [0] * dim
            lam = 0
    return v, lam


def pca_top_component(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top principal component of the embedding corpus via ``steps``
    power-iteration rounds: (d, v_micro, lambda_micro) — 64 rows.

    Split by scale role: the DISTRIBUTED part is ``pca_covariance``
    (one corpus scan, d²-cell shuffle); the collected matrix is d²
    int64 cells — constant-size driver state, same class as the PQ
    codebook — and the iteration itself (``_pca_power_iterate``) is
    integer-exact so a DuckDB oracle replays it as an unrolled CTE
    chain.  The returned frame is a LocalTableScan: zero exchanges,
    nothing for the plan gate to flag.  Sign is pinned by the
    deterministic start vector (1/√d)·1e6 — identical arithmetic on
    both engines lands on the identical sign.
    """
    rows = pca_covariance(
        embeddings, dim=dim, vec_col=vec_col, id_col=id_col
    ).collect()
    cov = {(int(r["i"]), int(r["j"])): int(r["c_micro"]) for r in rows}
    v, lam = _pca_power_iterate(cov, dim, steps)
    return spark.createDataFrame(
        [(d, v[d], lam) for d in range(dim)],
        "d bigint, v_micro bigint, lambda_micro bigint",
    )


def pca_project(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Projection of every vector onto the corpus's top principal
    component: (vec_id, score_micro) with score = Σ_d (x_d − m_d)·v_d —
    the 1-D PCA embedding used for curriculum ordering, outlier
    trimming, and stratified sampling over semantic spread.  One output
    row per input row: rows sharing a ``vec_id`` are scored separately,
    never summed.

    Scale: the component AND the means come from ONE covariance pass
    (``_pca_cov_means`` — no second corpus posexplode + groupBy for the
    means); the projection itself is a per-row array fold against the
    64-element mean/component literals — no generate, no joins, no
    per-vector exchange, zero shuffles in the scoring pass.

    Exactness: means via the ``mean_center`` 6-dp recipe (identical
    value — the diagonal moment sums ARE the per-dimension decimal
    sums); v = v_micro / 1e6 (same IEEE divide, now in the driver);
    each addend (x − m)·v is two IEEE steps from deterministic inputs;
    the cross-dimension sum runs in DECIMAL(28,12), which is exact and
    associative at these magnitudes, so fold order equals the old
    distributed sum bit-for-bit; one final round(1e6·s) cast.
    """
    cov, means = _pca_cov_means(embeddings, dim, vec_col, id_col)
    v, _ = _pca_power_iterate(cov, dim, steps)
    arr = F.slice(
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ),
        1,
        dim,
    )
    m_arr = F.array(*[F.lit(float(m)) for m in means])
    v_arr = F.array(*[F.lit(x / 1000000.0) for x in v])
    return embeddings.select(
        F.col(id_col),
        _pca_fold_score(arr, m_arr, v_arr).alias("score_micro"),
    )


def pca_var_explained(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Variance explained by the top principal component: one row
    (lambda_micro, trace_micro, var_explained_micro) with ratio =
    λ / trace(C) — the go/no-go statistic for dimensionality reduction
    (a high ratio says the corpus is effectively low-rank; a flat
    spectrum says a 1-D curriculum ordering would be noise).

    Same bounded split as ``pca_top_component``: distributed
    covariance, collected d² cells, integer-exact driver math — trace
    is an exact int64 sum of the diagonal micro cells, and the ratio
    is floor(1e6·λ/trace + 0.5), single IEEE steps an unrolled DuckDB
    CTE repeats.  Returned frame is a 1-row LocalTableScan.
    """
    rows = pca_covariance(
        embeddings, dim=dim, vec_col=vec_col, id_col=id_col
    ).collect()
    cov = {(int(r["i"]), int(r["j"])): int(r["c_micro"]) for r in rows}
    _, lam = _pca_power_iterate(cov, dim, steps)
    trace = sum(cov.get((d, d), 0) for d in range(dim))
    ratio = (
        math.floor(1000000.0 * lam / trace + 0.5) if trace > 0 else 0
    )
    return spark.createDataFrame(
        [(lam, trace, ratio)],
        "lambda_micro bigint, trace_micro bigint, "
        "var_explained_micro bigint",
    )


def _pca_deflate(
    cov: dict[tuple[int, int], int], v: list[int], lam: int, dim: int
) -> dict[tuple[int, int], int]:
    """Hotelling deflation in exact integer micro units: c₂ = c −
    round(λ·v·vᵀ), with round = half-away-from-zero implemented as
    sign-symmetric integer division — DuckDB's ``//`` truncates toward
    zero while Python's floors, so the formula splits on sign and uses
    magnitudes only, making both engines (and this function) compute
    the identical quotient.  Products run up to |λ|·1e12 ≈ 1e20:
    exact in Python ints and DuckDB HUGEINT, never through a double.
    """
    out = {}
    for i in range(dim):
        vi = v[i]
        for j in range(dim):
            p = lam * vi * v[j]
            if p >= 0:
                r = (p + 500_000_000_000) // 1_000_000_000_000
            else:
                r = -((-p + 500_000_000_000) // 1_000_000_000_000)
            out[(i, j)] = cov.get((i, j), 0) - r
    return out


def pca_top2_components(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top TWO principal components via power iteration + Hotelling
    deflation: (component ∈ {1,2}, d, v_micro, lambda_micro) — 2·dim
    rows.  The 2-D PCA embedding is the standard corpus-visualization /
    stratification basis; component 2 is extracted by the same
    integer-exact iteration after subtracting λ₁·v₁v₁ᵀ from the
    covariance (``_pca_deflate``), so the entire two-stage pipeline
    replays bit-for-bit in the DuckDB oracle's doubled CTE chain.

    Orthogonality note: deflation guarantees v₂ ⊥ v₁ only up to the
    micro quantization and the finite iteration count (residual ~
    (λ₂/λ₁)^steps); the unit test bounds |v₁·v₂| instead of pinning
    zero.  Scale posture identical to ``pca_top_component`` — one
    distributed covariance pass, d² driver cells, LocalTableScan out.

    Convergence is governed by the spectral gap: measured on the
    near-isotropic synthetic embeddings (λ₂/λ₁ ≈ 0.9 and flatter
    below), 8 steps leave |v₁·v₂| ≈ 0.07 and even 96 steps only reach
    ≈ 0.003 — on such corpora the components are a Rayleigh-quotient
    basis, not converged eigenvectors, and ``pca_var_explained``
    (λ/trace ≈ 1/50 here) is the diagnostic that says so.  With a
    dominant direction (the unit test's diag(1,4) corpus) 8 steps
    converge to micro precision.  The fixed budget is deliberate: the
    output is DEFINED as the integer fixpoint of ``steps`` rounds, so
    both engines replay it exactly regardless of how far the
    mathematical eigenproblem has converged.
    """
    rows = pca_covariance(
        embeddings, dim=dim, vec_col=vec_col, id_col=id_col
    ).collect()
    cov = {(int(r["i"]), int(r["j"])): int(r["c_micro"]) for r in rows}
    v1, lam1 = _pca_power_iterate(cov, dim, steps)
    cov2 = _pca_deflate(cov, v1, lam1, dim)
    v2, lam2 = _pca_power_iterate(cov2, dim, steps)
    data = [(1, d, v1[d], lam1) for d in range(dim)] + [
        (2, d, v2[d], lam2) for d in range(dim)
    ]
    return spark.createDataFrame(
        data,
        "component bigint, d bigint, v_micro bigint, "
        "lambda_micro bigint",
    )


def pca_project2d(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector coordinates in the top-2 PCA basis: (vec_id,
    pc1_micro, pc2_micro) — the 2-D corpus map used for visualization,
    stratified sampling over semantic spread, and outlier trimming.

    Scale (the ``pca_project`` fold, twice): both components and the
    means come from ONE covariance pass; each score is a per-row
    DECIMAL(28,12) array fold against 64-element literals — no
    generate, no joins, no per-vector exchange.  Conditional
    per-component sums in a grouped pass sum exactly these addend
    multisets; decimal addition is exact and associative here, so the
    fold matches them bit-for-bit.
    """
    cov, means = _pca_cov_means(embeddings, dim, vec_col, id_col)
    v1, lam1 = _pca_power_iterate(cov, dim, steps)
    cov2 = _pca_deflate(cov, v1, lam1, dim)
    v2, _ = _pca_power_iterate(cov2, dim, steps)
    arr = F.slice(
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ),
        1,
        dim,
    )
    m_arr = F.array(*[F.lit(float(m)) for m in means])
    v1_arr = F.array(*[F.lit(x / 1000000.0) for x in v1])
    v2_arr = F.array(*[F.lit(x / 1000000.0) for x in v2])
    return embeddings.select(
        F.col(id_col),
        _pca_fold_score(arr, m_arr, v1_arr).alias("pc1_micro"),
        _pca_fold_score(arr, m_arr, v2_arr).alias("pc2_micro"),
    )


def maha_outliers(
    embeddings: DataFrame,
    dim: int = 64,
    threshold_per_dim: float = 1.02,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Diagonal-Mahalanobis outlier score per vector: maha = Σ_d z_d²
    with z the ``standardize`` recipe — the embedding-space outlier
    trim (corrupt decodes, off-distribution inputs) that runs ahead of
    expensive clustering/dedup.  Output (vec_id, maha_micro,
    is_outlier) with is_outlier = maha > threshold_per_dim·dim
    (E[maha] = dim on clean data; the near-unit-norm synthetic
    embeddings concentrate maha in [61, 67] at dim 64, so the default
    cutoff sits inside that band to keep BOTH flag branches exercised
    at every SF — production callers pass their own χ²-quantile).

    Exactness: per-dim stats via the 6-dp decimal recipe; each z is
    two IEEE steps; z² one more; the cross-dimension sum runs in
    DECIMAL(28,12); one round(1e6·s) cast.  The flag compares the
    ALREADY-quantized maha_micro against an integer threshold, so it
    replays exactly.  Zero-variance dims contribute 0 (guarded on the
    variance like ``standardize``).

    Scale: the ``mean_center`` shape — 64-group stats shuffle,
    broadcast join back, one (vec_id, decimal) row per vector through
    the final exchange.
    """
    ex = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                _vec_checked(F.col(vec_col), dim),
                lambda x: x.cast("double"),
            )
        ).alias("d", "__x"),
    )
    stats = ex.groupBy("d").agg(
        F.round(
            F.sum(F.col("__x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("__m"),
        F.round(
            F.sum(
                (F.col("__x") * F.col("__x")).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("__m2"),
    )
    var = F.col("__m2") - F.col("__m") * F.col("__m")
    z = F.when(
        var > 0, (F.col("__x") - F.col("__m")) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    thr = int(round(threshold_per_dim * dim * 1_000_000))
    return (
        ex.join(F.broadcast(stats), "d")
        .select(id_col, (z * z).cast("decimal(28,12)").alias("__z2"))
        .groupBy(id_col)
        .agg(
            F.round(F.lit(1000000.0) * F.sum("__z2").cast("double"))
            .cast("bigint")
            .alias("maha_micro")
        )
        .withColumn("is_outlier", F.col("maha_micro") > F.lit(thr))
    )


def pca_by_label(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-class top principal component: (label, d, v_micro,
    lambda_micro) — |labels|·dim rows.  The grouped form of
    ``pca_top_component``: per-class spectra drive class-conditioned
    curriculum ordering and flag collapsed classes (λ ≈ 0 means the
    class's embeddings have degenerated to a point — a training-data
    bug report, not a statistic).

    Scale: the ONE corpus scan now aggregates (label, i, j) cells —
    |labels|·d² fixed-size groups, map-side combined exactly like the
    global covariance.  The collect is bounded by |labels|·d² int64
    cells, which is the operator's documented applicability bound:
    per-CLASS PCA presumes low-cardinality labels (10² classes × 64²
    = 409,600 cells ≈ 3 MB driver state); for high-cardinality keys
    use the global ``pca_top_component`` over a filtered frame
    instead.  Iteration is the same integer-exact loop per label;
    empty spectra guard to the zero vector.  The bound is ENFORCED:
    ``_check_label_cardinality`` pre-scans the label column and raises
    past ``_MAX_PCA_LABELS`` instead of silently collecting gigabytes.
    """
    spectra, _ = _pca_label_spectra(
        embeddings, dim, steps, vec_col, id_col, label_col
    )
    data = []
    for lbl in sorted(spectra):
        v, lam = spectra[lbl]
        data.extend((lbl, d, v[d], lam) for d in range(dim))
    return spark.createDataFrame(
        data,
        "label bigint, d bigint, v_micro bigint, lambda_micro bigint",
    )


def _pca_label_spectra(
    embeddings: DataFrame,
    dim: int,
    steps: int,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> tuple[dict, dict]:
    """Shared per-label covariance pass: returns
    ``({label: (v_micro[dim], lambda_micro)}, {(label, d): mean})``.
    One corpus scan (``_pca_moment_cells``); the means collect reads
    the checkpointed |labels|·d(d+1)/2 cell frame, NOT the corpus — so
    ``pca_project_by_label`` does not re-derive class means with a
    second corpus pass."""
    _check_label_cardinality(embeddings, label_col, dim)
    # The grouped twin of the global ``pca_covariance``: the shared
    # ``_pca_moment_cells`` helper (one corpus pass, upper triangle,
    # means on the diagonal, checkpointed cells — see its docstring),
    # keyed by label.
    g = _pca_moment_cells(embeddings, dim, vec_col, id_col, label_col)
    means = g.where(F.col("j") == F.col("i")).select(
        "__lbl",
        F.col("i").alias("d"),
        F.round(F.col("__ms").cast("double") / F.col("__n"), 6).alias("__m"),
    )
    e = F.round(F.col("__es").cast("double") / F.col("__n"), 6)
    cov_rows = (
        g.join(
            F.broadcast(
                means.select(
                    "__lbl", F.col("d").alias("i"), F.col("__m").alias("__mi")
                )
            ),
            ["__lbl", "i"],
        )
        .join(
            F.broadcast(
                means.select(
                    "__lbl", F.col("d").alias("j"), F.col("__m").alias("__mj")
                )
            ),
            ["__lbl", "j"],
        )
        .select(
            "__lbl",
            "i",
            "j",
            F.round(
                F.lit(1000000.0)
                * F.round(e - F.col("__mi") * F.col("__mj"), 6)
            )
            .cast("bigint")
            .alias("c_micro"),
        )
        .collect()
    )
    by_label: dict = {}
    for r in cov_rows:
        cell = by_label.setdefault(r["__lbl"], {})
        i, j, c = int(r["i"]), int(r["j"]), int(r["c_micro"])
        cell[(i, j)] = c
        if i != j:
            cell[(j, i)] = c
    mean_by_ld = {
        (r["__lbl"], int(r["d"])): float(r["__m"])
        for r in _pca_means_rows(g, by_label=True)
    }
    spectra = {
        lbl: _pca_power_iterate(by_label[lbl], dim, steps)
        for lbl in by_label
    }
    return spectra, mean_by_ld


def pca_project_by_label(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = 64,
    steps: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-vector score on its OWN class's top component, centered on
    the class mean: (vec_id, label, score_micro) — the within-class
    curriculum/outlier coordinate (a vector extreme for its class is
    interesting even when globally unremarkable).

    Composition of the audited parts: ONE per-label covariance pass
    (``_pca_label_spectra``) yields both the class components and the
    class means — no second corpus posexplode + groupBy for the
    means — and the
    projection is one corpus scan with a single broadcast join on
    ``label`` attaching the class's 64-element mean/component arrays,
    scored by the ``pca_project`` decimal fold (bit-identical addend
    multiset; no generate, no per-vector exchange).
    """
    spectra, mean_by_ld = _pca_label_spectra(
        embeddings, dim, steps, vec_col, id_col, label_col
    )
    comp = spark.createDataFrame(
        [
            (
                int(lbl),
                [float(mean_by_ld[(lbl, d)]) for d in range(dim)],
                [spectra[lbl][0][d] / 1000000.0 for d in range(dim)],
            )
            for lbl in sorted(spectra)
        ],
        "__lbl bigint, __ma array<double>, __va array<double>",
    )
    arr = F.slice(
        F.transform(
            _vec_checked(F.col(vec_col), dim), lambda x: x.cast("double")
        ),
        1,
        dim,
    )
    return (
        embeddings.select(
            F.col(id_col),
            F.col(label_col).cast("bigint").alias("__lbl"),
            arr.alias("__a"),
        )
        .join(F.broadcast(comp), "__lbl")
        .select(
            F.col(id_col),
            F.col("__lbl").alias("label"),
            _pca_fold_score(
                F.col("__a"), F.col("__ma"), F.col("__va")
            ).alias("score_micro"),
        )
    )
