"""Similarity search: brute-force correctness on hand vectors + LSH
recall against the brute-force baseline on the real embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k8stream_spark.analytics import similarity
from k8stream_spark.sources.fixtures import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_bruteforce_cosine_hand_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.cosine_topk(df, (0,), k=3).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 2, 3]
    assert out[0].cosine <= 1.0


def test_lsh_recall_against_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = (0, 1, 2, 3, 4)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb, qids, k=10).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in similarity.cosine_topk_lsh(emb, qids, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall} too low"  # 0.72 measured


def test_vector_norms(spark):
    df = spark.createDataFrame([(0, [3.0, 4.0])],
                               "vec_id bigint, embedding array<float>")
    out = similarity.vector_norms(df).collect()[0]
    assert out.l2_norm == pytest.approx(5.0)


def test_cosine_near_dup_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),   # cos ~0.990 with 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal to 0
        (3, [0.99, 0.0, 0.14]),   # cos ~0.990 with 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {(r.id_a, r.id_b) for r in
           similarity.cosine_near_dup_pairs(df, threshold=0.9).collect()}
    assert (0, 1) in out and (0, 3) in out
    assert (0, 2) not in out
    assert all(a < b for a, b in out)


def test_cosine_near_dup_lsh_recall(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {(r.id_a, r.id_b, r.cosine) for r in
             similarity.cosine_near_dup_pairs(emb, threshold=0.45).collect()}
    approx = {(r.id_a, r.id_b, r.cosine) for r in
              similarity.cosine_near_dup_lsh(emb, threshold=0.45).collect()}
    # verification makes precision exact, and every verified pair
    # carries the exact baseline's cosine (one scoring formula)
    assert approx <= exact
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"near-dup LSH recall {recall} too low"


def test_ivf_recall_against_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    qids = (0, 1, 2, 3, 4)
    exact = {(r.query_id, r.neighbor_id): r.cosine
             for r in similarity.cosine_topk(emb, qids, k=10).collect()}
    ivf = {(r.query_id, r.neighbor_id): r.cosine
           for r in similarity.cosine_topk_ivf(emb, qids, k=10).collect()}
    shared = exact.keys() & ivf.keys()
    # one scoring formula: a shared neighbor carries the same cosine
    assert {p: ivf[p] for p in shared} == {p: exact[p] for p in shared}
    recall = len(shared) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall} too low"  # 0.98 measured


def test_class_centroids_elementwise_mean(spark):
    from pyspark.sql import functions as F

    from k8stream_spark.analytics.similarity import class_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 3.0]),
            (2, [3.0, 2.0, 5.0]),
            (1, [10.0, 20.0, 30.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = {
        r["class"]: r
        for r in class_centroids(
            df, class_col=F.col("vec_id") % 2
        ).collect()
    }
    assert rows[0].n_vectors == 2
    assert rows[0].centroid == [2.0, 1.0, 4.0]
    assert rows[1].n_vectors == 1
    assert rows[1].centroid == [10.0, 20.0, 30.0]


def test_quantize_int8_closed_form(spark):
    from k8stream_spark.analytics.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            # amax=12.7, scale=0.1: codes [127, -64, 0, 10]
            (1, [12.7, -6.35, 0.0, 1.0]),
            # zero vector: scale falls back to 1.0, all codes 0
            (2, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df).collect()}
    r1 = rows[1]
    assert r1.n_dims == 4
    assert r1.amax == 12.7
    # -6.35/0.1 = -63.5 -> rounds away from zero to -64
    assert r1.sum_codes == 127 - 64 + 0 + 10
    assert r1.n_saturated == 1
    # worst reconstruction error is the half-step at the -63.5 boundary:
    # |-6.35 - (-64 * 0.1)| = 0.05 -> 50000 micro (float noise aside)
    assert abs(r1.max_err_micro - 50000) <= 1
    r2 = rows[2]
    assert r2.sum_codes == 0 and r2.n_saturated == 0
    assert r2.amax == 0.0 and r2.max_err_micro == 0


def _hand_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.999, 0.01, 0.0]),   # dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_semantic_dedup_hand_vectors(spark):
    # Two tight pairs + two isolated vectors; identical directions land
    # in the same k-means cell by construction, so both pairs must be
    # caught regardless of cell boundaries.
    df = _hand_vectors(spark)
    out = {r.vec_id: r for r in
           similarity.semantic_dedup(df, threshold=0.95, dim=4,
                                     nlist=4).collect()}
    assert len(out) == 6
    assert not out[1].kept and out[1].dup_of == 0
    assert not out[3].kept and out[3].dup_of == 2
    for i in (0, 2, 4, 5):
        assert out[i].kept and out[i].dup_of is None
    # dup pairs share a cell with their representative
    assert out[1].cell == out[0].cell
    assert out[3].cell == out[2].cell


def test_semantic_dedup_replayable_matches_contract(spark):
    """semantic_dedup keeps its contract on the fixture: one row per
    vector, every same-cell exact pair caught (within-cell
    completeness), every flagged vector traced to an exact same-cell
    pair, kept vectors pointer-free and every dup_of pointing at a
    lower id in the same cell."""
    emb = load_table(spark, SF_DIR, "embeddings")
    sd = {r.vec_id: r for r in
          similarity.semantic_dedup(emb, threshold=0.45).collect()}
    assert len(sd) == 500
    exact = {(r.id_a, r.id_b) for r in
             similarity.cosine_near_dup_pairs(emb, threshold=0.45).collect()}
    same_cell = {(a, b) for a, b in exact if sd[a].cell == sd[b].cell}
    for a, b in same_cell:
        assert not sd[b].kept, f"same-cell pair ({a},{b}) not flagged"
    flagged = {v for v, r in sd.items() if not r.kept}
    for v in flagged:
        assert any(v == b and sd[a].cell == sd[b].cell for a, b in exact), v
    for v, r in sd.items():
        assert r.kept == (r.dup_of is None)
        if r.dup_of is not None:
            assert r.dup_of < v and sd[r.dup_of].cell == r.cell


def test_semantic_dedup_invariants_flags_a_broken_operator(spark, monkeypatch):
    """Negative control: the invariants checker counts a same-cell pair
    left unflagged and a removed vector without a pointer."""
    df = _hand_vectors(spark)

    def check():
        return tuple(similarity.semantic_dedup_invariants(
            df, threshold=0.95, dim=4, nlist=4).collect()[0])

    assert check() == (6, 0, 0)
    real = similarity.semantic_dedup

    def broken(*args, **kwargs):
        out = real(*args, **kwargs)
        vid = F.col("vec_id")
        return out.select(
            "vec_id",
            "cell",
            (F.col("kept") | (vid == 1)).alias("kept"),
            F.when(vid.isin(1, 3), F.lit(None)).otherwise(F.col("dup_of"))
            .alias("dup_of"),
        )

    monkeypatch.setattr(similarity, "semantic_dedup", broken)
    # vector 1 kept beside its same-cell evictor 0 -> 1 missed pair;
    # vector 3 removed with no dup_of -> 1 pointer-less removal
    assert check() == (6, 1, 1)


def test_pq_encode_exact_on_clustered_vectors(spark):
    # two exact clusters -> with k=2 codes per subspace the codebook
    # converges onto the cluster points and reconstruction is exact
    a = [1.0, 0.0, 0.5, -0.5]
    b = [-1.0, 0.25, 0.0, 1.0]
    rows = [(i, a if i % 2 else b) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.vec_id: r
        for r in similarity.pq_encode(df, dim=4, m=2, k=2).collect()
    }
    assert len(out) == 12
    for i, r in out.items():
        assert r.recon_err == 0
    # identical vectors get identical codes; the two clusters differ
    codes = {i: (r.code_0, r.code_1) for i, r in out.items()}
    assert codes[1] == codes[3] and codes[0] == codes[2]
    assert codes[0] != codes[1]


def test_pq_encode_deterministic_under_repartition(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    one = sorted(
        tuple(r) for r in similarity.pq_encode(df, dim=8, m=4, k=4).collect()
    )
    two = sorted(
        tuple(r)
        for r in similarity.pq_encode(
            df.repartition(7), dim=8, m=4, k=4
        ).collect()
    )
    assert one == two
    # error accounting is nonnegative and nonzero for random data
    assert all(t[-1] >= 0 for t in one) and any(t[-1] > 0 for t in one)


def test_pq_adc_topk_recall_vs_exact(spark):
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qids = (0, 1, 2, 3, 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=10).collect()
    }
    adc = similarity.pq_adc_topk(emb, qids, k=10, m=16).collect()
    got = {(r.query_id, r.neighbor_id) for r in adc}
    assert len(adc) == 50
    # per-query ranks are 1..10, scores descend, all reconstructions real
    by_q = {}
    for r in adc:
        by_q.setdefault(r.query_id, []).append((r.rank, r.adc_cos))
    for q, rows in by_q.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, 11))
        scores = [s for _, s in rows]
        assert scores == sorted(scores, reverse=True)
        # adc_cos is |q|-scaled (ranking-equivalent); just sanity-bound it
        assert all(abs(s) < 1e6 for s in scores)
    # compressed-domain search keeps useful recall vs the exact top-10
    # even on the uniform-random worst case (m=16 -> 0.48 measured;
    # clustered real embeddings need far fewer subspaces)
    recall = len(exact & got) / len(exact)
    assert recall >= 0.4, recall


def test_ivf_pq_topk_recall_and_determinism(spark):
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    qids = (0, 1, 2, 3, 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=10).collect()
    }
    out = similarity.ivf_pq_topk(emb, qids, k=10, m=16).collect()
    assert len(out) == 50
    got = {(r.query_id, r.neighbor_id) for r in out}
    # composed recall is bounded by ADC's (~0.48 here); IVF pruning may
    # drop a few more on this uniform-random worst case
    recall = len(exact & got) / len(exact)
    assert recall >= 0.25, recall
    # deterministic across reruns and input partitioning
    again = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivf_pq_topk(
            emb.repartition(7), qids, k=10, m=16
        ).collect()
    }
    assert again == {(r.query_id, r.neighbor_id, r.rank) for r in out}


def test_random_projection_exact_replica(spark):
    """The Spark projection matches a from-scratch python replica of the
    public recipe (md5-parity signs, floor(x*1e6+0.5) quantization,
    integer sums) on the real table."""
    import hashlib

    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    out = {
        (r.vec_id, r.proj_dim): r.v_micro
        for r in similarity.random_projection(emb).collect()
    }
    rows = emb.orderBy("vec_id").limit(5).collect()
    S = np.asarray(
        [
            [
                -1
                if int(hashlib.md5(f"rp-v1:{j}:{i}".encode()).hexdigest()[0], 16) % 2
                else 1
                for i in range(64)
            ]
            for j in range(16)
        ],
        dtype=np.int64,
    )
    for r in rows:
        q = np.floor(np.asarray(r.embedding, dtype=np.float64) * 1e6 + 0.5).astype(
            np.int64
        )
        want = S @ q
        for j in range(16):
            assert out[(r.vec_id, j)] == want[j], (r.vec_id, j)


def test_random_projection_preserves_cosine(spark):
    """JL property: pairwise cosines of the 16-d sign projection track the
    64-d originals (Achlioptas 2003) — the reason the squeeze is safe in
    front of LSH/clustering.  Mean |error| bound is loose but real."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    V = np.vstack(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb.limit(40).collect()]
    )
    proj = similarity.random_projection(emb).collect()
    P = np.zeros((40, 16))
    ids = {r.vec_id for r in emb.limit(40).collect()}
    idx = {v: n for n, v in enumerate(sorted(ids))}
    for r in proj:
        if r.vec_id in idx:
            P[idx[r.vec_id], r.proj_dim] = r.v_micro
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
    errs = []
    for a in range(0, 40, 5):
        for b in range(a + 1, 40, 7):
            errs.append(abs(Vn[a] @ Vn[b] - Pn[a] @ Pn[b]))
    mean_err = sum(errs) / len(errs)
    assert mean_err < 0.25, mean_err


def test_knn_graph_mutual_replica_and_invariants(spark):
    """Mutual-kNN edges match a numpy replica on the real table; every
    edge is (a < b) and mutual by construction."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.collect()
    ids = np.asarray([r.vec_id for r in rows])
    V = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.round(Vn @ Vn.T, 6)
    order = np.argsort(ids)
    ids, C = ids[order], C[np.ix_(order, order)]
    n = len(ids)
    topk = {}
    for a in range(n):
        # rank on (cosine desc, id asc), skip self — the operator's order
        cand = sorted(
            (( -C[a, b], ids[b]) for b in range(n) if b != a),
        )[:5]
        topk[ids[a]] = {nid for _, nid in cand}
    want = {
        (int(a), int(b))
        for a in ids
        for b in topk[a]
        if a < b and a in topk[b]
    }
    got = {
        (r.id_a, r.id_b)
        for r in similarity.knn_graph_mutual(emb, k=5).collect()
    }
    assert got == want
    assert all(a < b for a, b in got)


def test_knn_graph_lsh_edge_recall(spark):
    """The LSH-candidate mutual graph recovers most exact mutual edges —
    the quantified swap the exact baseline's docstring points at.  On
    near-uniform vectors (LSH's worst case) 24x6 buckets still catch
    the high-cosine edges that dominate the mutual graph."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.knn_graph_mutual(emb, k=5).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.knn_graph_mutual_lsh(emb, k=5).collect()
    }
    assert exact, "exact graph unexpectedly empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"edge recall {recall} too low"  # 0.70 measured
    # every approx edge is well-formed
    assert all(a < b for a, b in approx)


def test_semantic_clusters_knn_invariants(spark):
    """Cluster assignment is a partition consistent with the mutual-kNN
    edge set: every edge joins same-cluster nodes, every cluster_id is
    its own member and the min of the cluster, singletons are canonical."""
    emb = load_table(spark, SF_DIR, "embeddings")
    edges = {
        (r.id_a, r.id_b)
        for r in similarity.knn_graph_mutual(emb, k=5).collect()
    }
    assign = {
        r.vec_id: (r.cluster_id, r.is_canonical)
        for r in similarity.semantic_clusters_knn(emb, k=5).collect()
    }
    n_rows = emb.count()
    assert len(assign) == n_rows
    for a, b in edges:
        assert assign[a][0] == assign[b][0], (a, b)
    by_cluster: dict[int, list[int]] = {}
    for vid, (cid, canon) in assign.items():
        by_cluster.setdefault(cid, []).append(vid)
        assert canon == (vid == cid)
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_mean_center_zero_sum_and_hand_values(spark):
    """Centered columns sum to ~0 per dimension; hand-computed values on
    a tiny frame match round(1e6 * (x - mean))."""
    rows = [
        (0, [1.0, 10.0]),
        (1, [3.0, 20.0]),
        (2, [5.0, 30.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        (r.vec_id, r.d): r.centered_micro
        for r in similarity.mean_center(df, dim=2).collect()
    }
    # dim 0 mean 3.0, dim 1 mean 20.0
    assert out[(0, 0)] == -2_000_000 and out[(2, 0)] == 2_000_000
    assert out[(1, 0)] == 0 and out[(1, 1)] == 0
    assert out[(0, 1)] == -10_000_000 and out[(2, 1)] == 10_000_000
    # real table: per-dim residual mean is ~0 (quantization noise only)
    emb = load_table(spark, SF_DIR, "embeddings")
    cen = similarity.mean_center(emb).collect()
    from collections import defaultdict

    sums = defaultdict(int)
    counts = defaultdict(int)
    for r in cen:
        sums[r.d] += r.centered_micro
        counts[r.d] += 1
    for d in sums:
        assert abs(sums[d] / counts[d]) < 1.0, d  # < 1 micro unit


def test_declared_dim_longer_than_vector_raises(spark):
    """dim > actual vector length must raise, not silently NULL every
    cosine (element_at past the array end is NULL; a threshold filter
    would then drop all pairs — an empty result that reads as 'no
    near-dups').  A vector LONGER than dim passes (prefix use is
    legitimate)."""
    import pytest

    short = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(Exception, match="shorter than declared dim"):
        similarity.cosine_near_dup_pairs(short, dim=64).collect()
    with pytest.raises(Exception, match="shorter than declared dim"):
        similarity.knn_graph_mutual(short, dim=64).collect()
    # prefix of a wider vector is fine
    wide = spark.createDataFrame(
        [(0, [1.0, 2.0, 9.0]), (1, [2.0, 1.0, 9.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = similarity.cosine_near_dup_pairs(wide, threshold=0.0, dim=2)
    assert out.count() == 1


def test_standardize_hand_values_and_moments(spark):
    """Hand-computed z-scores on a tiny frame; on the real table every
    standardized dimension has ~0 mean and ~unit second moment."""
    rows = [
        (0, [1.0, 7.0]),
        (1, [3.0, 7.0]),
        (2, [5.0, 7.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        (r.vec_id, r.d): r.z_micro
        for r in similarity.standardize(df, dim=2).collect()
    }
    # dim 0: mean 3, var (4+0+4)/3 -> s = sqrt(8/3); z0 = -2/s
    import math

    s = math.sqrt(round(35 / 3, 6) - 9.0)
    assert out[(0, 0)] == round(1e6 * (-2.0 / s))
    assert out[(1, 0)] == 0
    assert out[(2, 0)] == round(1e6 * (2.0 / s))
    # constant dim standardizes to 0, never NaN/NULL
    assert out[(0, 1)] == 0 and out[(2, 1)] == 0
    # constant dim whose value has 7+ decimals: 6-dp rounding makes
    # m2 − m² slightly negative; the variance guard (not a sqrt-result
    # guard, which NaN-poisons and CAST_OVERFLOWs) must pin z to 0
    bad = spark.createDataFrame(
        [(0, [1.4999996, 2.0]), (1, [1.4999996, 4.0])],
        "vec_id bigint, embedding array<float>",
    )
    bout = {
        (r.vec_id, r.d): r.z_micro
        for r in similarity.standardize(bad, dim=2).collect()
    }
    assert bout[(0, 0)] == 0 and bout[(1, 0)] == 0
    emb = load_table(spark, SF_DIR, "embeddings")
    z = similarity.standardize(emb).collect()
    from collections import defaultdict

    s1 = defaultdict(int)
    s2 = defaultdict(int)
    n = defaultdict(int)
    for r in z:
        s1[r.d] += r.z_micro
        s2[r.d] += r.z_micro * r.z_micro
        n[r.d] += 1
    for d in s1:
        # the 6-dp rounding of m leaves up to ~0.5e-6/s of residual
        # mean, i.e. a few micro units at s ~ 0.3
        assert abs(s1[d] / n[d]) < 5.0, d              # mean ~0 micro
        assert abs(s2[d] / n[d] / 1e12 - 1.0) < 0.01, d  # E[z^2] ~1


def test_pca_covariance_and_top_component_hand_values(spark):
    """Axis-aligned corpus: dim 0 carries all the variance, so the top
    component must be exactly e0 with lambda = Var[x_0], and every
    covariance cell replays the E[xy] - mx*my recipe by hand."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [-1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [-2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cov = {
        (r.i, r.j): r.c_micro
        for r in similarity.pca_covariance(df, dim=2).collect()
    }
    # E[x0^2] = (1+1+4+4)/4 = 2.5, means 0 -> c(0,0) = 2_500_000
    assert cov == {
        (0, 0): 2_500_000,
        (0, 1): 0,
        (1, 0): 0,
        (1, 1): 0,
    }
    comp = similarity.pca_top_component(spark, df, dim=2).collect()
    got = {r.d: (r.v_micro, r.lambda_micro) for r in comp}
    assert got[0] == (1_000_000, 2_500_000)
    assert got[1] == (0, 2_500_000)
    # Projection = centered dim-0 value (component is e0, means are 0).
    proj = {
        r.vec_id: r.score_micro
        for r in similarity.pca_project(spark, df, dim=2).collect()
    }
    assert proj == {
        0: 1_000_000,
        1: -1_000_000,
        2: 2_000_000,
        3: -2_000_000,
    }


def test_pca_project_keeps_duplicate_vec_ids_apart(spark):
    """Two input rows sharing a vec_id yield two output rows, each
    scored on its own vector — never one summed row."""
    rows = [
        (0, [1.0, 0.0]),
        (0, [-1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [-2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    proj = similarity.pca_project(spark, df, dim=2).collect()
    assert sorted((r.vec_id, r.score_micro) for r in proj) == [
        (0, -1_000_000),
        (0, 1_000_000),
        (2, 2_000_000),
        (3, -2_000_000),
    ]


def test_pca_zero_spectrum_guarded(spark):
    """An all-identical corpus has a zero covariance matrix: the
    normalization guard must yield the zero vector and lambda 0, never
    a NaN/overflow from dividing by sqrt(0)."""
    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    comp = similarity.pca_top_component(spark, df, dim=2).collect()
    assert {(r.v_micro, r.lambda_micro) for r in comp} == {(0, 0)}
    proj = similarity.pca_project(spark, df, dim=2).collect()
    assert {r.score_micro for r in proj} == {0}


def test_pca_power_iterate_is_integer_exact():
    """The driver-side loop is pure int64 + single IEEE steps: feeding
    the documented worst-case magnitudes must stay inside exact-double
    range (no silent precision loss), and a known 2x2 matrix converges
    to the dominant eigenvector."""
    # [[2, 1], [1, 2]] in micro units: eigenvector (1,1)/sqrt(2),
    # eigenvalue 3.
    cov = {
        (0, 0): 2_000_000,
        (0, 1): 1_000_000,
        (1, 0): 1_000_000,
        (1, 1): 2_000_000,
    }
    v, lam = similarity._pca_power_iterate(cov, 2, 8)
    assert v == [707107, 707107]  # floor(1e6/sqrt(2)+0.5)
    # lambda carries the fixpoint's micro-quantization: w settles at
    # (3e6*707107 + 5e5)//1e6 = 2121321 per dim, and
    # floor(2121321*sqrt(2) + 0.5) = 3000001 — one micro above the
    # true eigenvalue 3.0, the documented +-1-micro discretization.
    assert lam == 3_000_001


def test_pca_var_explained_hand_values(spark):
    """Axis-aligned corpus: all variance on dim 0 -> ratio exactly 1.0
    (1_000_000 micro); trace = the single nonzero diagonal cell."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [-1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [-2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.pca_var_explained(spark, df, dim=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.lambda_micro, r.trace_micro, r.var_explained_micro) == (
        2_500_000,
        2_500_000,
        1_000_000,
    )


def test_pca_top2_deflation_hand_values(spark):
    """diag(1, 4) covariance corpus: component 1 converges to e1
    (lambda 4.0), deflation removes it, component 2 converges to e0
    (lambda 1.0); the quantized vectors stay near-orthonormal."""
    rows = [
        (0, [1.0, 2.0]),
        (1, [-1.0, 2.0]),
        (2, [1.0, -2.0]),
        (3, [-1.0, -2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.pca_top2_components(spark, df, dim=2).collect()
    assert len(out) == 4
    comp = {(r.component, r.d): (r.v_micro, r.lambda_micro) for r in out}
    v1 = [comp[(1, 0)][0], comp[(1, 1)][0]]
    v2 = [comp[(2, 0)][0], comp[(2, 1)][0]]
    lam1, lam2 = comp[(1, 0)][1], comp[(2, 0)][1]
    # dominant directions: e1 then e0 (sign free, magnitudes pinned);
    # lambda carries the documented +-few-micro discretization.
    assert abs(lam1 - 4_000_000) <= 10 and abs(lam2 - 1_000_000) <= 10
    assert abs(v1[1]) >= 999_990 and abs(v1[0]) <= 50
    assert abs(v2[0]) >= 999_900 and abs(v2[1]) <= 2_000
    # near-orthonormal after quantization
    assert abs(v1[0] * v2[0] + v1[1] * v2[1]) / 1e12 <= 1e-3
    for v in (v1, v2):
        assert abs((v[0] ** 2 + v[1] ** 2) / 1e12 - 1.0) <= 1e-4


def test_pca_project2d_matches_single_projections(spark):
    """pc1 must equal pca_project's single-component score, and on the
    diag(1,4) corpus the coordinates are the centered dims (up to
    component sign): |pc1| = dim-1 value, |pc2| = dim-0 value."""
    rows = [
        (0, [1.0, 2.0]),
        (1, [-1.0, 2.0]),
        (2, [1.0, -2.0]),
        (3, [-1.0, -2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {
        r.vec_id: (r.pc1_micro, r.pc2_micro)
        for r in similarity.pca_project2d(spark, df, dim=2).collect()
    }
    one = {
        r.vec_id: r.score_micro
        for r in similarity.pca_project(spark, df, dim=2).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    for v in out:
        assert out[v][0] == one[v]
    # component magnitudes: v1 ~ e1 (so pc1 ~ +-2e6), v2 ~ e0 (+-1e6);
    # quantization tolerance per the documented micro discretization.
    for v, (x0, x1) in ((0, (1, 2)), (1, (-1, 2)), (2, (1, -2)),
                        (3, (-1, -2))):
        assert abs(abs(out[v][0]) - abs(x1) * 1_000_000) <= 200
        assert abs(abs(out[v][1]) - abs(x0) * 1_000_000) <= 2_500


def test_maha_outliers_hand_values_and_flag(spark):
    """Hand z-scores: symmetric 1-D spread gives maha = 1.0 per vector
    (constant dim contributes 0); the flag compares the quantized
    score so both branches are reachable by moving the threshold."""
    rows = [(0, [1.0, 7.0]), (1, [-1.0, 7.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r.vec_id: r for r in similarity.maha_outliers(df, dim=2).collect()}
    assert out[0].maha_micro == 1_000_000
    assert out[1].maha_micro == 1_000_000
    assert not out[0].is_outlier  # thr = 1.02 * 2 = 2.04
    low = {
        r.vec_id: r.is_outlier
        for r in similarity.maha_outliers(
            df, dim=2, threshold_per_dim=0.4
        ).collect()
    }
    assert low == {0: True, 1: True}  # thr = 0.8 < 1.0


def test_pca_by_label_groups_independent(spark):
    """Two labels with variance on DIFFERENT axes: each class's
    component is its own axis with its own eigenvalue — and a
    collapsed (constant) class reports the zero vector, the documented
    degenerate-class flag."""
    rows = (
        [(i, [float(x), 0.0], 0) for i, x in enumerate((1, -1, 2, -2))]
        + [(10 + i, [0.0, float(x)], 1)
           for i, x in enumerate((3, -3, 3, -3))]
        + [(20 + i, [5.0, 5.0], 2) for i in range(3)]
    )
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label bigint"
    )
    out = {
        (r.label, r.d): (r.v_micro, r.lambda_micro)
        for r in similarity.pca_by_label(spark, df, dim=2).collect()
    }
    assert len(out) == 6
    # label 0: var on dim0 = 2.5; label 1: var on dim1 = 9.0
    assert out[(0, 0)] == (1_000_000, 2_500_000)
    assert out[(0, 1)] == (0, 2_500_000)
    assert out[(1, 0)] == (0, 9_000_000)
    assert out[(1, 1)] == (1_000_000, 9_000_000)
    # label 2 collapsed to a point: zero spectrum
    assert out[(2, 0)] == (0, 0) and out[(2, 1)] == (0, 0)


def test_pca_project_by_label_own_class_coordinates(spark):
    """Each vector is scored on ITS class's component, centered on the
    class mean: for two classes with variance on different axes the
    score is the within-class centered value on that class's axis."""
    rows = (
        [(i, [float(x), 9.0], 0) for i, x in enumerate((1, -1, 2, -2))]
        + [(10 + i, [7.0, float(x)], 1)
           for i, x in enumerate((3, -3, 3, -3))]
    )
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label bigint"
    )
    out = {
        r.vec_id: (r.label, r.score_micro)
        for r in similarity.pca_project_by_label(spark, df, dim=2).collect()
    }
    # class 0: axis e0, mean 0 -> scores are the dim-0 values; the
    # constant dim-1 (9.0) must not leak in (class-mean centered).
    assert out[0] == (0, 1_000_000) and out[1] == (0, -1_000_000)
    assert out[2] == (0, 2_000_000) and out[3] == (0, -2_000_000)
    # class 1: axis e1 -> dim-1 values; constant dim-0 ignored.
    assert out[10] == (1, 3_000_000) and out[11] == (1, -3_000_000)


def test_driver_state_bounds_are_enforced(spark):
    """The documented driver-state bounds are runtime guards, not prose
    (r10 task 6): per-label PCA raises past _MAX_PCA_LABELS distinct
    labels BEFORE the d^2-cell aggregation; quantizer training raises
    on max_train above _MAX_TRAIN_CEILING before collecting anything."""
    from k8stream_spark.analytics.similarity import (
        _MAX_PCA_LABELS,
        _MAX_TRAIN_CEILING,
        pca_by_label,
    )

    # |labels| = rows (id-as-label): the canonical misuse.
    n = _MAX_PCA_LABELS + 16
    df = spark.range(n).selectExpr(
        "id as vec_id",
        "array(cast(id as float), 1.0f) as embedding",
        "id as label",
    )
    with pytest.raises(ValueError, match="per-label PCA"):
        pca_by_label(spark, df, dim=2)

    # Within-bound path still works (regression: guard must not false-
    # positive on legitimate low-cardinality labels).
    ok = spark.range(8).selectExpr(
        "id as vec_id",
        "array(cast(id as float), 1.0f) as embedding",
        "id % 2 as label",
    )
    assert pca_by_label(spark, ok, dim=2).count() == 2 * 2

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="ceiling"):
        similarity.pq_encode(
            emb, max_train=_MAX_TRAIN_CEILING + 1
        ).collect()


def test_suggest_lsh_params_scaling_law():
    """The sf1 measurement's tuning law (SCALE.md r12): bits grow with
    log2(n) holding bucket occupancy ~constant, tables restore recall.
    Checks the closed-form recall and occupancy properties directly."""
    import math

    from k8stream_spark.analytics.similarity import suggest_lsh_params

    # Near the fixture scale the suggestion matches the shipped
    # defaults' ballpark (6 bits; tables within a few of 24).
    bits, tables = suggest_lsh_params(30000)
    assert bits == 6 and 15 <= tables <= 30

    # Occupancy invariant: expected bucket size n/2^bits stays within
    # [target/2, 2*target] across 5 orders of magnitude.
    for n in (10_000, 100_000, 1_000_000, 10_000_000, 100_000_000):
        b, t = suggest_lsh_params(n, target_bucket=512)
        assert 256 <= n / 2**b <= 1024, (n, b)

    # Recall invariant: the closed-form recall at the target cosine
    # meets min_recall whenever the tables cap doesn't bind.
    for n in (10_000, 300_000):
        b, t = suggest_lsh_params(n, min_recall=0.8, max_tables=10_000)
        p = 1.0 - math.acos(0.45) / math.pi
        recall = 1.0 - (1.0 - p**b) ** t
        assert recall >= 0.8, (n, b, t, recall)

    # Monotone: more rows never means fewer bits.
    seq = [suggest_lsh_params(n)[0] for n in (1e4, 1e5, 1e6, 1e7)]
    assert seq == sorted(seq)

    with pytest.raises(ValueError):
        suggest_lsh_params(0)
    with pytest.raises(ValueError):
        suggest_lsh_params(100, target_cosine=1.5)


def test_lsh_partial_params_raise(spark):
    """ADVICE r13: passing exactly one of (tables=, bits=) used to
    silently auto-tune BOTH, discarding the caller's pinned value."""
    emb = load_table(spark, SF_DIR, "embeddings")
    for kwargs in ({"tables": 4}, {"bits": 6}):
        with pytest.raises(ValueError, match="both tables= and bits="):
            similarity.cosine_topk_lsh(emb, (0, 1), k=5, **kwargs)
        with pytest.raises(ValueError, match="both tables= and bits="):
            similarity.cosine_near_dup_lsh(emb, threshold=0.45, **kwargs)
        with pytest.raises(ValueError, match="both tables= and bits="):
            similarity.knn_graph_mutual_lsh(emb, k=3, **kwargs)
    # ADVICE r14: the check must fire BEFORE any DataFrame is built or
    # persisted — a pure argument error must not cost a corpus pass.
    # embeddings=None would raise AttributeError the moment the frame
    # is touched, so a ValueError here proves the check runs first.
    for kwargs in ({"tables": 4}, {"bits": 6}):
        with pytest.raises(ValueError, match="both tables= and bits="):
            similarity.cosine_topk_lsh(None, (0, 1), k=5, **kwargs)
        with pytest.raises(ValueError, match="both tables= and bits="):
            similarity.cosine_near_dup_lsh(None, threshold=0.45, **kwargs)
        with pytest.raises(ValueError, match="both tables= and bits="):
            similarity.knn_graph_mutual_lsh(None, k=3, **kwargs)
    # both pinned still honored, both omitted still auto-tunes
    assert similarity.cosine_topk_lsh(
        emb, (0, 1), k=5, tables=4, bits=4
    ).count() >= 0
    assert similarity.cosine_topk_lsh(emb, (0, 1), k=5).count() >= 0


def test_lsh_table_cap_warns_with_achievable_recall():
    """r14 task 2 (VERDICT r13): when the 256-table cap binds (large n
    at target_bucket=32), recall silently fell below min_recall with
    only a docstring note.  Now suggest_lsh_params emits a
    RuntimeWarning naming the achievable recall and the IVF escape
    hatch; fixture-scale calls stay silent."""
    import warnings as _w

    from k8stream_spark.analytics.similarity import (
        _lsh_tables_needed,
        suggest_lsh_params,
    )

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        bits, tables = suggest_lsh_params(10_000_000, target_bucket=32)
        assert tables == 256  # cap binds
        assert len(rec) == 1 and issubclass(rec[0].category, RuntimeWarning)
        msg = str(rec[0].message)
        assert "achievable recall" in msg and "ivf" in msg.lower()
        # the quoted achievable number is the closed form at the cap
        import math, re

        quoted = float(re.search(r"~(\d+\.\d+)", msg).group(1))
        p = (1.0 - math.acos(0.45) / math.pi) ** bits
        assert abs(quoted - (1.0 - (1.0 - p) ** 256)) < 5e-4

    # No warning at any shipped fixture scale (the auto-tune default
    # path must stay clean through the sf1 campaign sizes).
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        for n in (500, 2000, 20000, 60000):
            suggest_lsh_params(n, target_bucket=32)
        assert rec == []

    # The uncapped requirement is what the warning thresholds on.
    assert _lsh_tables_needed(19, 0.45, 0.8) > 256
    assert _lsh_tables_needed(6, 0.45, 0.8) <= 256


def test_suggest_ivf_nprobe_law(spark):
    """r14 (VERDICT r13 task 1): the IVF operators auto-tune nprobe from
    nlist by default — a constant probed FRACTION (ceil(nlist/2), floor
    8, cap nlist), because on isotropic data recall tracks the fraction
    and a fixed nprobe at nlist ~ sqrt(n) decays with corpus size
    (measured sf1 recall@10 mean 0.40 at the old fixed 8 vs 0.88 at the
    law, scripts/ivf_nprobe_sweep.py).  The DuckDB oracle replays the
    identical integer rule from COUNT(*), checked here expression-for-
    expression."""
    import duckdb

    from k8stream_spark.analytics.similarity import (
        _AUTO_NPROBE_FLOOR,
        _AUTO_PROBE_DEN,
        _AUTO_PROBE_NUM,
        suggest_ivf_nprobe,
    )

    # Pinned at the fixture scales (nlist = max(4, floor(sqrt(n)/2))):
    assert suggest_ivf_nprobe(11) == 8    # sf0.01, n=500: floor binds
    assert suggest_ivf_nprobe(22) == 11   # sf0.1, n=2000
    assert suggest_ivf_nprobe(70) == 35   # sf1, n=20000
    assert suggest_ivf_nprobe(7) == 7     # tiny corpus: cap at nlist
    assert suggest_ivf_nprobe(1) == 1

    # Fraction invariant past the floor; floor invariant below it.
    for nlist in range(1, 400):
        np_ = suggest_ivf_nprobe(nlist)
        assert 1 <= np_ <= nlist
        if nlist >= 2 * _AUTO_NPROBE_FLOOR:
            assert np_ * _AUTO_PROBE_DEN >= nlist * _AUTO_PROBE_NUM

    # Monotone: more cells never means fewer probes.
    seq = [suggest_ivf_nprobe(nl) for nl in range(1, 1000)]
    assert seq == sorted(seq)

    with pytest.raises(ValueError):
        suggest_ivf_nprobe(0)

    # SQL parity: the oracle params-CTE expression (the exact text
    # __spark_entry__ embeds) computes the same nprobe for every n.
    con = duckdb.connect()
    for n in (1, 17, 200, 500, 2000, 20000, 123457, 10**7):
        nlist = max(4, int(n**0.5 / 2))
        got = con.execute(
            f"""SELECT LEAST(nlist, GREATEST({_AUTO_NPROBE_FLOOR},
                  ({_AUTO_PROBE_NUM} * nlist + {_AUTO_PROBE_DEN} - 1)
                    // {_AUTO_PROBE_DEN}))
                FROM (SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST({n} AS
                  DOUBLE)) / 2) AS INT)) AS nlist)"""
        ).fetchone()[0]
        assert got == suggest_ivf_nprobe(nlist), (n, got)
    con.close()

    # End-to-end: the default (auto-tuned) operator output equals an
    # explicit nprobe call at the suggested value.
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    nlist = max(4, int(n**0.5 / 2))
    auto = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_ivf(emb, (0, 1, 2), k=5).collect()
    }
    explicit = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_ivf(
            emb, (0, 1, 2), k=5, nprobe=suggest_ivf_nprobe(nlist)
        ).collect()
    }
    assert auto == explicit


def test_suggest_ivf_nprobe_margin_law(spark):
    """r15 (VERDICT r14 task 3): the nprobe default is structure-aware —
    the training sample's mean top1−top2 cell-cosine margin (micro ints)
    moves the probed fraction from the isotropic worst case (margin <=
    LO -> ceil(nlist/2)) down to the floor (margin >= HI), linear ramp
    between.  Constants pinned from the fixture matrix (SCALE.md r15 /
    SCALE_CLUSTERED.json): isotropic margins 0.064-0.149, clustered
    sigma=.06 ~0.42-0.45, sigma=.12 ~0.25-0.30."""
    import duckdb

    from k8stream_spark.analytics.similarity import (
        _AUTO_NPROBE_FLOOR,
        _AUTO_PROBE_DEN,
        _AUTO_PROBE_NUM,
        _MARGIN_HI_MICRO,
        _MARGIN_LO_MICRO,
        _ivf_sample_margin_micro,
        suggest_ivf_nprobe,
    )

    # Pinned at the measured fixture margins (n=20k -> nlist=70):
    assert suggest_ivf_nprobe(70, margin_micro=63543) == 35   # isotropic
    assert suggest_ivf_nprobe(70, margin_micro=418423) == 8   # sigma=.06
    assert suggest_ivf_nprobe(70, margin_micro=245508) == 28  # sigma=.12
    assert suggest_ivf_nprobe(22, margin_micro=452339) == 8
    assert suggest_ivf_nprobe(22, margin_micro=301260) == 8   # ramp 6 -> floor

    # Continuity at LO, floor at HI, monotone decreasing in margin.
    for nlist in (16, 22, 70, 400, 5000):
        assert (suggest_ivf_nprobe(nlist, margin_micro=_MARGIN_LO_MICRO)
                == suggest_ivf_nprobe(nlist))
        assert (suggest_ivf_nprobe(nlist, margin_micro=_MARGIN_HI_MICRO)
                == min(nlist, _AUTO_NPROBE_FLOOR))
        picks = [suggest_ivf_nprobe(nlist, margin_micro=m)
                 for m in range(0, 500_001, 10_000)]
        assert picks == sorted(picks, reverse=True)

    # SQL parity: the prm-CTE CASE (the exact arithmetic __spark_entry__
    # embeds) equals the Python law over a (nlist, margin) grid.
    con = duckdb.connect()
    for nlist in (4, 11, 22, 70, 313, 5000):
        for m in (0, 63543, 199999, 200000, 200001, 245508, 301260,
                  399999, 400000, 452339, 3000000):
            got = con.execute(
                f"""SELECT LEAST({nlist}, GREATEST({_AUTO_NPROBE_FLOOR},
                  CASE WHEN {m} <= {_MARGIN_LO_MICRO}
                         THEN ({_AUTO_PROBE_NUM} * {nlist}
                               + {_AUTO_PROBE_DEN} - 1) // {_AUTO_PROBE_DEN}
                       WHEN {m} >= {_MARGIN_HI_MICRO} THEN 0
                       ELSE ({_AUTO_PROBE_NUM} * {nlist}
                             * ({_MARGIN_HI_MICRO} - {m})
                             + {_AUTO_PROBE_DEN}
                               * ({_MARGIN_HI_MICRO} - {_MARGIN_LO_MICRO}) - 1)
                            // ({_AUTO_PROBE_DEN}
                                * ({_MARGIN_HI_MICRO} - {_MARGIN_LO_MICRO}))
                  END))"""
            ).fetchone()[0]
            assert got == suggest_ivf_nprobe(nlist, margin_micro=m), (
                nlist, m, got)
    con.close()

    # The statistic itself: a synthetic strongly-clustered sample reads
    # high, a spread-out one low, and a single-cell quantizer reads 0.
    import numpy as np

    rng = np.random.default_rng(7)
    C = np.floor(rng.standard_normal((8, 64)) * 1e4).astype(np.int64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    X_clu = np.floor(
        Cn[rng.integers(0, 8, 200)] * 1e4 + 0.5
    ).astype(np.int64)  # points AT centers -> top1 ~1, top2 ~|cos centers|
    m_clu = _ivf_sample_margin_micro(X_clu, C)
    X_iso = np.floor(
        rng.standard_normal((200, 64)) * 1e3
    ).astype(np.int64)
    m_iso = _ivf_sample_margin_micro(X_iso, C)
    assert m_clu > 400_000 > m_iso >= 0
    assert _ivf_sample_margin_micro(X_clu, C[:1]) == 0

    # End-to-end on CLUSTERED data: the default equals an explicit call
    # at the margin-adaptive pick (not the static one).
    from pyspark.sql import functions as F

    centers = rng.standard_normal((16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[rng.integers(0, 16, 600)] + 0.05 * rng.standard_normal(
        (600, 64)
    )
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(pts)],
        "vec_id bigint, embedding array<float>",
    )
    raw = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").alias("__id"), raw.alias("__x"))
    nlist = max(4, int(600**0.5 / 2))
    C2, X2 = similarity._sample_kmeans_int(base, nlist, 600,
                                           return_sample=True)
    margin = _ivf_sample_margin_micro(X2, C2)
    assert margin > _MARGIN_LO_MICRO  # clustered synthetic must read so
    pick = suggest_ivf_nprobe(nlist, margin_micro=margin)
    auto = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_ivf(emb, (0, 1), k=5).collect()
    }
    explicit = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk_ivf(
            emb, (0, 1), k=5, nprobe=pick
        ).collect()
    }
    assert auto == explicit


def test_lsh_auto_tune_is_default_path(spark):
    """r13 (VERDICT r12 task 1): the LSH operators auto-tune (bits,
    tables) from the corpus count by default, and the auto-tuned result
    is exactly what an explicit (tables=, bits=) call at the suggested
    params produces — so the DuckDB oracle (which replays the same
    integer bits rule + tables lookup) stays hash-exact at any SF."""
    from k8stream_spark.analytics.similarity import (
        _auto_lsh_params,
        _lsh_bits_for_n,
        _lsh_tables_for_bits,
        suggest_lsh_params,
    )

    # The law at the three fixture scales (pinned so the oracle SQL's
    # embedded lookup can never silently drift).
    assert _auto_lsh_params(500) == (4, 9)      # sf0.01 embeddings
    assert _auto_lsh_params(2000) == (6, 21)    # sf0.1
    assert _auto_lsh_params(20000) == (10, 122) # sf1
    assert _auto_lsh_params(0) == (1, 2)        # total on empty corpus

    # Integer bits rule == ceil(log2(n / target_bucket)), floored at 1.
    import math
    for n in (1, 31, 32, 33, 500, 511, 512, 513, 2048, 10**6):
        got = _lsh_bits_for_n(n, 32)
        want = max(1, math.ceil(math.log2(max(2, n / 32))))
        assert got == want, (n, got, want)

    # suggest_lsh_params composes the two helpers.
    assert suggest_lsh_params(20000, target_bucket=32) == (
        _lsh_bits_for_n(20000, 32),
        _lsh_tables_for_bits(_lsh_bits_for_n(20000, 32)),
    )

    # End-to-end: the default (auto-tuned) operator output equals the
    # explicit-params output at the suggested values.
    emb = load_table(spark, SF_DIR, "embeddings")
    bits, tables = _auto_lsh_params(emb.count())
    auto = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_near_dup_lsh(emb, threshold=0.45).collect()
    }
    explicit = {
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.cosine_near_dup_lsh(
            emb, threshold=0.45, tables=tables, bits=bits
        ).collect()
    }
    assert auto == explicit and len(auto) > 0
