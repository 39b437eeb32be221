"""Candidate-volume audit behind SCALE.md: for each near-dup / ANN
pipeline, count the candidates its bucketing stage generates and the
pairs its exact verification keeps, at the given sf dir.

Usage: python scripts/scale_audit.py [sf_dir]   (default sf0.1)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from k8stream_spark.analytics import dedup as dd  # noqa: E402
from k8stream_spark.analytics import similarity as sim  # noqa: E402
from k8stream_spark.session import get_spark  # noqa: E402
from k8stream_spark.sources.fixtures import load_table  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("scale-audit")
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    n_docs, n_emb = docs.count(), emb.count()
    print(
        f"docs={n_docs} emb={n_emb} "
        f"all_pairs_docs={n_docs * (n_docs - 1) // 2} "
        f"all_pairs_emb={n_emb * (n_emb - 1) // 2}"
    )

    # MinHash LSH: candidates from the band self-join, pre-verification
    # (the same banding expression minhash_lsh_pairs builds internally).
    num_hashes, bands = 128, 32
    r = num_hashes // bands
    sigs = dd.minhash_signature(docs).persist()
    sigs.count()
    with_sig = sigs.where(F.col("sig").isNotNull())
    banded = with_sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("sig")[b * r + j] for j in range(r)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    left, right = banded.alias("l"), banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
        .count()
    )
    t0 = time.time()
    verified = dd.minhash_lsh_pairs(docs).count()
    print(
        f"minhash_lsh: candidates={cand} verified={verified} "
        f"time={time.time() - t0:.1f}s"
    )
    spark.catalog.clearCache()

    # n-gram inverted index: pairs sharing >=1 shingle
    sh = docs.select(
        "doc_id", dd.word_shingles("text").alias("s")
    ).persist()
    sh.count()
    inv = sh.select("doc_id", F.explode("s").alias("g")).withColumn(
        "g", F.xxhash64("g")
    )
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id"), F.col("b.doc_id"))
        .count()
        .count()
    )
    t0 = time.time()
    nj = dd.ngram_jaccard_pairs(docs).count()
    print(
        f"ngram_jaccard: shared-shingle pairs={shared} verified={nj} "
        f"time={time.time() - t0:.1f}s"
    )
    spark.catalog.clearCache()

    # cosine LSH: the production candidate stage (raw-vector buckets at
    # the auto-tuned (bits, tables) for this corpus size), so the audited
    # volume is the volume the registry queries generate
    base, n_rows, bucketed = sim._lsh_candidates(
        emb, "embedding", "vec_id", 64, None, None
    )
    bits, tables = sim._auto_lsh_params(n_rows)
    candp = sim._lsh_scored_pairs(base, n_rows, bucketed, 64).count()
    spark.catalog.clearCache()
    t0 = time.time()
    nl = sim.cosine_near_dup_lsh(emb).count()
    print(
        f"cosine_lsh ({tables} tables x {bits} bits): candidates={candp} "
        f"verified={nl} "
        f"time={time.time() - t0:.1f}s"
    )
    spark.catalog.clearCache()

    t0 = time.time()
    ni = sim.cosine_topk_ivf(emb, (0, 1, 2, 3, 4), k=10).count()
    print(f"ivf: topk_rows={ni} time={time.time() - t0:.1f}s")
    spark.catalog.clearCache()

    # expansion / balance / compression accounting
    from k8stream_spark.analytics import splits as sp
    from k8stream_spark.analytics import text as ta

    t0 = time.time()
    nchunks = ta.chunk_overlap(docs).count()
    print(
        f"chunk_overlap: chunks={nchunks} docs={n_docs} "
        f"expansion={nchunks / n_docs:.2f}x time={time.time() - t0:.1f}s"
    )

    t0 = time.time()
    man = sp.shard_manifest(docs).collect()
    lo = min(r.n_docs for r in man)
    hi = max(r.n_docs for r in man)
    print(
        f"shard_manifest: shards={len(man)} min_docs={lo} max_docs={hi} "
        f"balance={hi / max(1, lo):.2f} time={time.time() - t0:.1f}s"
    )

    # retrieval layer: how hard the isin prune cuts the exploded token
    # stream before BM25's first shuffle (the whole 100 TB cost model —
    # only docs containing >=1 query term ever reach an exchange).
    from k8stream_spark.analytics import retrieval as rt
    from k8stream_spark.analytics.text import tokens as tkz

    t0 = time.time()
    tok = docs.select("doc_id", F.explode(tkz("text")).alias("token"))
    n_tok = tok.count()
    n_hit = tok.where(F.col("token").isin(*rt.QUERY_TERMS)).count()
    n_cand_docs = (
        tok.where(F.col("token").isin(*rt.QUERY_TERMS))
        .select("doc_id")
        .distinct()
        .count()
    )
    rt.bm25_topk(docs).count()
    print(
        f"bm25: exploded_tokens={n_tok} query_term_hits={n_hit} "
        f"(prune={n_tok / max(1, n_hit):.1f}x) candidate_docs={n_cand_docs}"
        f"/{n_docs} time={time.time() - t0:.1f}s"
    )
    spark.catalog.clearCache()

    t0 = time.time()
    pq = sim.pq_encode(emb).agg(
        F.count(F.lit(1)).alias("n"), F.avg("recon_err").alias("err")
    ).collect()[0]
    # 64 float32 coords (256 B) -> 4 codes of 4 bits (2 B) + id
    print(
        f"pq_encode: vectors={pq['n']} mean_recon_err={pq['err']:.0f} "
        f"(quantized-coord^2 units; 256B->2B payload, 128x) "
        f"time={time.time() - t0:.1f}s"
    )
    spark.catalog.clearCache()

    # containment fingerprints — how hard mod-p sampling +
    # the df-prune cut the inverted index before the pair join.
    t0 = time.time()
    t = F.coalesce(F.col("text"), F.lit(""))
    grams = docs.where(F.length(t) >= 8).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 8 + 1),
                lambda i: F.md5(F.substring(t, i, 8)),
            )
        ).alias("h"),
    )
    n_grams = grams.count()
    fp0 = grams.where(
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint") % 4 == 0
    ).distinct()
    n_fp = fp0.count()
    dfc = fp0.groupBy("h").count()
    n_hot = dfc.where(F.col("count") > 50).count()
    n_pairs = dd.containment_pairs(docs).count()
    print(
        f"containment: grams={n_grams} sampled_fps={n_fp} "
        f"(sample={n_grams / max(1, n_fp):.1f}x) hot_fps_pruned={n_hot} "
        f"contained_pairs={n_pairs} time={time.time() - t0:.1f}s"
    )
    spark.stop()


if __name__ == "__main__":
    main()
