"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end pipeline (the reference's
hot path: eligibility filter → dedup → enrichment joins → L9Event
projection, SURVEY.md §3.1) on sf0.001.  ``queries()`` registers every
implemented operator from SURVEY.md §2 plus the LLM-data-pipeline layer;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each one that is
SQL-expressible (approximate/hash-seeded ops — SimHash, LSH ANN — are
rows-only by design and documented as such).

Mapping of reference-shaped operators onto the driver tables follows
FIXTURES.md §B: ``events`` plays the k8s event stream (event_id↔uid,
event_type↔reason, user_id↔involved-object key), ``customer`` plays the
object/service dimensions, ``supplier`` plays nodes, ``orders`` plays
pods.  The derivations are deterministic column expressions repeated
verbatim in the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k8stream_spark import L9_VERSION
from k8stream_spark.analytics import dedup as docdedup
from k8stream_spark.analytics import events as evan
from k8stream_spark.analytics import multimodal, similarity
from k8stream_spark.analytics import text as textan
from k8stream_spark.analytics import tpch
from k8stream_spark.ops import dedup as opsdedup
from k8stream_spark.ops import filters, joins
from k8stream_spark.ops import project as opsproject
from k8stream_spark.sources.fixtures import load_table
from k8stream_spark.streaming.pipeline import project_enriched_l9

# IVF auto-nprobe law constants, embedded into the oracle SQL at build
# time from the module that owns them (similarity.suggest_ivf_nprobe)
# so the Spark default and the DuckDB replay cannot drift (r14 task 1;
# r15 adds the structure-margin band — see _ivf_margin_sql).
_NPROBE_FLOOR = similarity._AUTO_NPROBE_FLOOR
_NPROBE_NUM = similarity._AUTO_PROBE_NUM
_NPROBE_DEN = similarity._AUTO_PROBE_DEN
_MARGIN_LO = similarity._MARGIN_LO_MICRO
_MARGIN_HI = similarity._MARGIN_HI_MICRO

SEGMENTS = ("MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
NS_BLACKLIST = ("ns-0", "ns-1", "ns-2")
REASON_WHITELIST = ("click", "view", "purchase")
TOPK_QUERY_IDS = (0, 1, 2, 3, 4)


# ---------------------------------------------------------------------------
# k8s-shaped frames derived from the driver tables (Spark side).  Each has a
# matching SQL CTE below; the derivations must stay textually in sync.
# ---------------------------------------------------------------------------


def _k8s_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ns = F.concat(F.lit("ns-"), (F.col("user_id") % 10).cast("string"))
    return ev.select(
        F.col("event_id").cast("string").alias("uid"),
        F.col("ts").alias("creation_ts"),
        ns.alias("namespace"),
        F.col("event_type").alias("reason"),
        F.col("props").alias("message"),
        F.lit("driver").alias("source_component"),
        F.concat(F.lit("host-"), (F.col("user_id") % 8).cast("string")).alias(
            "source_host"
        ),
        F.col("user_id").cast("string").alias("ref_uid"),
        F.concat(F.lit("obj-"), F.col("user_id").cast("string")).alias("ref_name"),
        ns.alias("ref_namespace"),
        F.when(F.col("event_type") == "purchase", "Pod")
        .otherwise("Deployment")
        .alias("ref_kind"),
        F.lit("v1").alias("ref_api_version"),
    )


K8S_EVENTS_CTE = """
SELECT CAST(event_id AS VARCHAR) AS uid,
       ts AS creation_ts,
       'ns-'||CAST(user_id%10 AS VARCHAR) AS namespace,
       event_type AS reason,
       props AS message,
       'driver' AS source_component,
       'host-'||CAST(user_id%8 AS VARCHAR) AS source_host,
       CAST(user_id AS VARCHAR) AS ref_uid,
       'obj-'||CAST(user_id AS VARCHAR) AS ref_name,
       'ns-'||CAST(user_id%10 AS VARCHAR) AS ref_namespace,
       CASE WHEN event_type='purchase' THEN 'Pod' ELSE 'Deployment' END AS ref_kind,
       'v1' AS ref_api_version
FROM events
"""


def _objects(spark: SparkSession, sf_dir: str, max_custkey: int = 100) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") < max_custkey
    )
    return c.select(
        F.col("c_custkey").cast("string").alias("uid"),
        F.when(F.col("c_mktsegment") == "BUILDING", "Pod")
        .otherwise("ConfigMap")
        .alias("kind"),
        F.col("c_name").alias("name"),
        F.concat(F.lit("ns-"), (F.col("c_nationkey") % 10).cast("string")).alias(
            "namespace"
        ),
        F.create_map(F.lit("segment"), F.col("c_mktsegment")).alias("labels"),
        F.create_map().cast("map<string,string>").alias("annotations"),
        F.concat(
            F.lit("10.0."), (F.col("c_custkey") % 256).cast("string"), F.lit(".1")
        ).alias("pod_ip"),
        F.concat(
            F.lit("192.168.0."), (F.col("c_custkey") % 256).cast("string")
        ).alias("host_ip"),
        F.lit(None).cast("timestamp_ntz").alias("start_time"),
        F.concat(F.lit("host-"), (F.col("c_custkey") % 8).cast("string")).alias(
            "node_name"
        ),
    )


OBJECTS_CTE = """
SELECT CAST(c_custkey AS VARCHAR) AS uid,
       CASE WHEN c_mktsegment='BUILDING' THEN 'Pod' ELSE 'ConfigMap' END AS kind,
       c_name AS name,
       'ns-'||CAST(c_nationkey%10 AS VARCHAR) AS namespace,
       c_mktsegment AS segment,
       '10.0.'||CAST(c_custkey%256 AS VARCHAR)||'.1' AS pod_ip,
       '192.168.0.'||CAST(c_custkey%256 AS VARCHAR) AS host_ip,
       CAST(NULL AS TIMESTAMP) AS start_time,
       'host-'||CAST(c_custkey%8 AS VARCHAR) AS node_name
FROM customer WHERE c_custkey < 100
"""


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").where(F.col("s_suppkey") < 5)
    return s.select(
        F.concat(F.lit("host-"), F.col("s_suppkey").cast("string")).alias("name"),
        F.array(
            F.col("s_name"),
            F.concat(F.lit("ip-"), F.col("s_suppkey").cast("string")),
        ).alias("addresses"),
    )


NODES_CTE = """
SELECT 'host-'||CAST(s_suppkey AS VARCHAR) AS name,
       [s_name, 'ip-'||CAST(s_suppkey AS VARCHAR)] AS addresses
FROM supplier WHERE s_suppkey < 5
"""


def _services(
    spark: SparkSession, sf_dir: str, max_custkey: int | None = None
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    if max_custkey is not None:
        c = c.where(F.col("c_custkey") < max_custkey)
    tenth = F.col("c_custkey") % 10 == 0
    even = F.col("c_custkey") % 2 == 0
    selector = (
        F.when(tenth, F.create_map().cast("map<string,string>"))
        .when(even, F.create_map(F.lit("seg"), F.col("c_mktsegment")))
        .otherwise(
            F.create_map(
                F.lit("seg"),
                F.col("c_mktsegment"),
                F.lit("pri"),
                F.lit("1-URGENT"),
            )
        )
    )
    mod3 = F.col("c_custkey") % 3
    return c.select(
        F.col("c_custkey").cast("string").alias("uid"),
        F.when(F.col("c_custkey") % 50 == 0, "kubernetes")
        .otherwise(F.col("c_name"))
        .alias("name"),
        F.concat(F.lit("ns-"), (F.col("c_nationkey") % 10).cast("string")).alias(
            "namespace"
        ),
        ((F.col("c_custkey") * 7) % 100).cast("string").alias("resource_version"),
        selector.alias("selector"),
        F.create_map(F.lit("team"), F.col("c_mktsegment")).alias("labels"),
        F.create_map().cast("map<string,string>").alias("annotations"),
        F.when(mod3 == 0, "addedService")
        .when(mod3 == 1, "updatedService")
        .otherwise("deletedService")
        .alias("event_type"),
    )


SERVICES_CTE = """
SELECT CAST(c_custkey AS VARCHAR) AS uid,
       CASE WHEN c_custkey%50=0 THEN 'kubernetes' ELSE c_name END AS name,
       'ns-'||CAST(c_nationkey%10 AS VARCHAR) AS namespace,
       CAST((c_custkey*7)%100 AS VARCHAR) AS resource_version,
       CASE WHEN c_custkey%3=0 THEN 'addedService'
            WHEN c_custkey%3=1 THEN 'updatedService'
            ELSE 'deletedService' END AS event_type
FROM customer
"""


def _pods(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    seg = F.element_at(
        F.array(*[F.lit(s) for s in SEGMENTS]),
        ((F.col("o_custkey") % 5) + 1).cast("int"),
    )
    return o.select(
        F.col("o_orderkey").cast("string").alias("uid"),
        F.concat(F.lit("pod-"), F.col("o_orderkey").cast("string")).alias("name"),
        F.concat(F.lit("ns-"), (F.col("o_custkey") % 10).cast("string")).alias(
            "namespace"
        ),
        F.create_map(
            F.lit("seg"), seg, F.lit("pri"), F.col("o_orderpriority")
        ).alias("labels"),
        F.concat(
            F.lit("10.1."), (F.col("o_orderkey") % 250).cast("string"), F.lit(".2")
        ).alias("pod_ip"),
        F.concat(
            F.lit("192.168.1."), (F.col("o_orderkey") % 250).cast("string")
        ).alias("host_ip"),
        F.col("o_orderdate").alias("start_time"),
    )


def _deployments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployments dim for the dormant J6 join (reference k8sclient.go:62-74,
    event_service.go:39-69) — derived from ``part`` so its label space
    overlaps the service selectors (seg always present, pri only on every
    third deployment)."""
    p = load_table(spark, sf_dir, "part")
    seg = F.element_at(
        F.array(*[F.lit(s) for s in SEGMENTS]),
        ((F.col("p_partkey") % 5) + 1).cast("int"),
    )
    pri = F.when(F.col("p_partkey") % 3 == 0, "1-URGENT").otherwise("3-MEDIUM")
    return p.select(
        F.col("p_partkey").cast("string").alias("uid"),
        F.concat(F.lit("deploy-"), F.col("p_partkey").cast("string")).alias(
            "name"
        ),
        F.create_map(F.lit("seg"), seg, F.lit("pri"), pri).alias("labels"),
    )


# J4/J5/A1 pair generation shared by the oracle SQL: empty selector
# (c_custkey%10=0) matches ALL pods; even custkey matches on seg; odd
# matches on seg AND pri='1-URGENT'.
PAIRS_CTE = """
WITH svc AS (
  SELECT c_custkey, c_mktsegment,
         (c_custkey%10=0) AS match_all,
         (c_custkey%2=0) AS even
  FROM customer WHERE c_custkey < 100
), pod AS (
  SELECT o_orderkey,
         (['MACHINERY','BUILDING','AUTOMOBILE','HOUSEHOLD','FURNITURE'])[CAST(o_custkey%5 AS INT)+1] AS seg,
         o_orderpriority AS pri
  FROM orders
), pairs AS (
  SELECT s.c_custkey AS sk, p.o_orderkey AS pk
  FROM svc s JOIN pod p
    ON s.match_all OR (s.c_mktsegment = p.seg AND (s.even OR p.pri='1-URGENT'))
)
"""


def _j4_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.label_selector_join(
        _services(spark, sf_dir, max_custkey=100), _pods(spark, sf_dir)
    )


# Shingle CTE shared by the near-dup oracles (3-word shingles, distinct).
# Bit-exact mirror of similarity._plane_weights + bucket_keys for the
# hyperplane-LSH queries (dim=64, params auto-tuned from the corpus
# count — see _LSH_CTE): integer plane weights derived from
# sha256("t:b:d") (DuckDB's sha256 == hashlib's), vectors quantized with
# the same IEEE double ops floor(x*1e6+0.5), sign of the exact int64 dot
# product, key = t*2^bits + Σ s_b·2^(bits-1-b).  Everything integer → no
# float summation-order dependence, so the candidate sets match Spark's
# exactly and the approximate pipeline is hash-checkable end to end.
# Shared body for the containment oracles (docs_containment_pairs /
# docs_containment_dedup): mod-4 sampled 8-char-gram md5 fingerprints,
# df<=50 prune, inverted-index pair join, integer containment compare.
_CONTAINMENT_CTE = """
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(t) - 8 + 2),
                i -> md5(substr(t, CAST(i AS INT), 8)))) AS h
  FROM d WHERE length(t) >= 8
), fp0 AS (
  SELECT DISTINCT doc_id, h FROM g
  WHERE CAST(CAST('0x' || substr(h, 1, 8) AS UBIGINT)
             AS BIGINT) % 4 = 0
), dfc AS (
  SELECT h, COUNT(*) AS df FROM fp0 GROUP BY h
), fp AS (
  SELECT f.doc_id, f.h
  FROM fp0 f JOIN dfc USING (h) WHERE dfc.df <= 50
), sz AS (
  SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id
), sh AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS shared
  FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cpairs AS (
  SELECT sh.id_a, sh.id_b, sh.shared,
         CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b
  FROM sh
  JOIN sz sa ON sa.doc_id = sh.id_a
  JOIN sz sb ON sb.doc_id = sh.id_b
  WHERE 100 * sh.shared >= 80 * LEAST(sa.n, sb.n)
)
"""

def _lsh_param_lookup_rows() -> str:
    """(bits, tables) VALUES rows for bits 1..32, generated by the SAME
    Python closed form the Spark operators auto-tune with
    (``similarity._lsh_tables_for_bits`` at the ``_AUTO_*`` defaults) —
    embedding the values keeps the two engines on identical floats, so
    a ceil boundary can never flip between DuckDB's and Python's libm."""
    return ", ".join(
        "({b}, {t})".format(
            b=b,
            t=similarity._lsh_tables_for_bits(
                b,
                target_cosine=similarity._AUTO_TARGET_COSINE,
                min_recall=similarity._AUTO_MIN_RECALL,
                max_tables=similarity._AUTO_MAX_TABLES,
            ),
        )
        for b in range(1, 33)
    )


# Since r13 the LSH params are auto-tuned from the corpus count, and the
# oracle replays the SAME rule: bits = smallest b >= 1 with
# target_bucket(32)·2^b >= n (exact integer compare — the integer-exact
# form of ceil(log2(n/32)) that similarity._lsh_bits_for_n computes),
# tables from the embedded Python-computed lookup above.  planes are
# generated over the max ranges (256 tables × 32 bits) and filtered by
# the 1-row lshp frame before any sha256 is evaluated.
_LSH_CTE = f"""
WITH lshn AS (
  SELECT GREATEST(COUNT(*), 1) AS n FROM embeddings
), lshb AS (
  SELECT MIN(r.b) AS bits
  FROM range(1, 33) r(b), lshn
  WHERE 32 * (CAST(1 AS BIGINT) << r.b) >= lshn.n
), lshp AS (
  SELECT lshb.bits, lut.tables
  FROM lshb JOIN (VALUES {_lsh_param_lookup_rows()}) lut(bits, tables)
    ON lut.bits = lshb.bits
), planes AS (
  SELECT t.t AS t, b.b AS b, d.d AS d,
         CAST(CAST('0x' || substr(sha256(CAST(t.t AS VARCHAR)||':'||
                                         CAST(b.b AS VARCHAR)||':'||
                                         CAST(d.d AS VARCHAR)), 1, 16)
                   AS UBIGINT) % 100000 AS BIGINT) - 50000 AS w
  FROM range(256) t(t), range(32) b(b), range(64) d(d), lshp p
  WHERE t.t < p.tables AND b.b < p.bits
), vq AS (
  SELECT e.vec_id AS vid, d.d AS d,
         CAST(FLOOR(CAST(e.embedding[d.d + 1] AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS q
  FROM embeddings e, range(64) d(d)
), sig AS (
  SELECT v.vid, p.t, p.b,
         CASE WHEN SUM(v.q * p.w) >= 0 THEN 1 ELSE 0 END AS s
  FROM vq v JOIN planes p ON p.d = v.d
  GROUP BY v.vid, p.t, p.b
), bkey AS (
  SELECT vid, t,
         CAST(t * (CAST(1 AS BIGINT) << p.bits)
              + SUM(s * (CAST(1 AS BIGINT) << (p.bits - 1 - b)))
           AS BIGINT) AS bkt
  FROM sig, lshp p GROUP BY vid, t, p.bits
)
"""

# Bit-exact mirror of similarity._sample_kmeans_int + _int_cell_assigner
# for emb_cosine_topk_ivf: the integer-exact IVF quantizer is replayed
# end-to-end in SQL — sha256 permille sample (hash-then-id order), seed
# centroids = first nlist sample rows, ITERS unrolled Lloyd rounds
# (assignment by argmax of the exact-integer-parts cosine a/sqrt(n2),
# ties to the smallest cell; per-coordinate rounded-mean update
# floor((2·Σq + m)/(2m)), empty cells carry over), final assignment of
# every vector, per-query probe ranking by the same cosine, candidate
# equi-join on the cell, float rerank with the emb_cosine_topk recipe.
# Every argmax/rank input is either an exact int64 or a double computed
# from exact int64s (< 2^53) by correctly-rounded IEEE ops, so numpy and
# DuckDB produce identical orderings — no float-summation-order risk.
def _ivf_margin_sql(cent_final: str) -> str:
    """CTE chain for the r15 structure-adaptive nprobe — the oracle
    twin of ``similarity._ivf_sample_margin_micro`` +
    ``suggest_ivf_nprobe(margin_micro=...)``: per-sample-point top1−top2
    cell cosine (the identical a/sqrt(n2) doubles the training replay
    ranks on), normalized by the point's quantized norm sqrt(Σq²),
    micro-quantized with floor(·*1e6+0.5), integer-mean'd (all
    non-negative, so DuckDB's truncating // equals Python's floor),
    then the LO/HI band law in exact int64 arithmetic.  Runs over the
    SAMPLE only (its own ``asamp`` dot CTE), so it never re-scans the
    corpus-sized ``af``/``ranked`` chain."""
    return f""", qq AS (
  SELECT q.id AS pid, SUM(q.q * q.q) AS qq
  FROM samp s JOIN qv q ON q.id = s.id GROUP BY q.id
), asamp AS (
  SELECT q.id AS pid, c.cell, SUM(q.q * c.c) AS a
  FROM samp s JOIN qv q ON q.id = s.id JOIN {cent_final} c ON c.d = q.d
  GROUP BY q.id, c.cell
), rsamp AS (
  SELECT a.pid,
         CASE WHEN n.n2 = 0 THEN -2.0
              ELSE CAST(a.a AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END AS v,
         row_number() OVER (PARTITION BY a.pid ORDER BY
           CASE WHEN n.n2 = 0 THEN -2.0
                ELSE CAST(a.a AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END
             DESC, a.cell) AS rn
  FROM asamp a JOIN n2f n USING (cell)
), mrg AS (
  SELECT CAST(FLOOR((r1.v - r2.v) / sqrt(CAST(qq.qq AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS m
  FROM (SELECT pid, v FROM rsamp WHERE rn = 1) r1
  JOIN (SELECT pid, v FROM rsamp WHERE rn = 2) r2 USING (pid)
  JOIN qq USING (pid)
), prm AS (
  SELECT p.nlist,
         LEAST(p.nlist, GREATEST({_NPROBE_FLOOR},
           CASE WHEN mm.m IS NULL OR mm.m <= {_MARGIN_LO}
                  THEN ({_NPROBE_NUM} * p.nlist + {_NPROBE_DEN} - 1)
                       // {_NPROBE_DEN}
                WHEN mm.m >= {_MARGIN_HI} THEN 0
                ELSE ({_NPROBE_NUM} * p.nlist * ({_MARGIN_HI} - mm.m)
                      + {_NPROBE_DEN} * ({_MARGIN_HI} - {_MARGIN_LO}) - 1)
                     // ({_NPROBE_DEN} * ({_MARGIN_HI} - {_MARGIN_LO}))
           END)) AS nprobe
  FROM params p, (SELECT SUM(m) // COUNT(*) AS m FROM mrg) mm
)"""


def _ivf_training_sql(iters: int = 4, dim: int = 64) -> str:
    """Shared WITH-body ending at ``ranked``/``asgf`` (every vector's
    per-cell cosine rank and final cell), used by the IVF-search oracle
    and the replayable semantic-dedup oracle.  ``__TAIL__`` is the
    consumer's final SELECT."""
    parts = []
    for i in range(iters):
        parts.append(f"""
a{i} AS (
  SELECT q.id AS pid, c.cell, SUM(q.q * c.c) AS a
  FROM samp s JOIN qv q ON q.id = s.id JOIN cent{i} c ON c.d = q.d
  GROUP BY q.id, c.cell
), n2_{i} AS (
  SELECT cell, SUM(c * c) AS n2 FROM cent{i} GROUP BY cell
), asg{i} AS (
  SELECT pid, cell FROM (
    SELECT a.pid, a.cell,
           row_number() OVER (PARTITION BY a.pid ORDER BY
             CASE WHEN n.n2 = 0 THEN -2.0
                  ELSE CAST(a.a AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END
               DESC,
             a.cell) AS rn
    FROM a{i} a JOIN n2_{i} n USING (cell))
  WHERE rn = 1
), cent{i + 1} AS MATERIALIZED (
  SELECT c.cell, c.d, COALESCE(m.mean, c.c) AS c
  FROM cent{i} c LEFT JOIN (
    SELECT g.cell, q.d,
           CAST(FLOOR(CAST(2 * SUM(q.q) + COUNT(*) AS DOUBLE)
                      / (2.0 * COUNT(*))) AS BIGINT) AS mean
    FROM asg{i} g JOIN qv q ON q.id = g.pid
    GROUP BY g.cell, q.d) m
  ON m.cell = c.cell AND m.d = c.d
)""")
    iter_ctes = ",".join(parts)
    return f"""
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), qv AS MATERIALIZED (
  SELECT b.id, d.d,
         CAST(FLOOR(b.x[d.d + 1] * 10000.0 + 0.5) AS BIGINT) AS q
  FROM base b, range({dim}) d(d)
), params AS (
  -- nlist/permille replay similarity's corpus-size rules; nprobe moved
  -- to the prm CTE (r15): it now replays the structure-adaptive
  -- suggest_ivf_nprobe(margin_micro=...) from the training-sample
  -- margin statistic (see _ivf_margin_sql).
  SELECT n, nlist,
         GREATEST(1, LEAST(1000, (20000 * 1000) // n)) AS permille
  FROM (SELECT n,
               GREATEST(4, CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) / 2) AS INT))
                 AS nlist
        FROM (SELECT COUNT(*) AS n FROM base))
), samp AS MATERIALIZED (
  SELECT id, rnk FROM (
    SELECT b.id, row_number() OVER (ORDER BY hh, b.id) AS rnk
    FROM (SELECT id,
                 CAST(CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 1, 15)
                      AS UBIGINT) % 1000 AS BIGINT) AS hh
          FROM base) b, params p
    WHERE b.hh < p.permille)
  WHERE rnk <= 20000
), cent0 AS MATERIALIZED (
  SELECT CAST(s.rnk - 1 AS INT) AS cell, q.d, q.q AS c
  FROM samp s JOIN qv q ON q.id = s.id, params p
  WHERE s.rnk <= p.nlist
), {iter_ctes},
af AS (
  SELECT q.id AS pid, c.cell, SUM(q.q * c.c) AS a
  FROM qv q JOIN cent{iters} c ON c.d = q.d
  GROUP BY q.id, c.cell
), n2f AS MATERIALIZED (
  SELECT cell, SUM(c * c) AS n2 FROM cent{iters} GROUP BY cell
), ranked AS MATERIALIZED (
  SELECT a.pid, a.cell,
         row_number() OVER (PARTITION BY a.pid ORDER BY
           CASE WHEN n.n2 = 0 THEN -2.0
                ELSE CAST(a.a AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END
             DESC,
           a.cell) AS rn
  FROM af a JOIN n2f n USING (cell)
), asgf AS MATERIALIZED (
  SELECT pid, cell FROM ranked WHERE rn = 1
){_ivf_margin_sql(f"cent{iters}")}
__TAIL__
"""


def _ivf_oracle_sql(
    iters: int = 4, nprobe: int | None = None, k: int = 10, dim: int = 64
) -> str:
    qids = "(" + ",".join(str(i) for i in (0, 1, 2, 3, 4)) + ")"
    npx = str(nprobe) if nprobe is not None else "(SELECT nprobe FROM prm)"
    tail = f""", probes AS (
  SELECT pid AS query_id, cell FROM ranked
  WHERE pid IN {qids} AND rn <= {npx}
), cand AS (
  SELECT p.query_id, m.pid AS neighbor_id
  FROM probes p JOIN asgf m ON m.cell = p.cell
  WHERE m.pid != p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(bq.x, bn.x)
               / (sqrt(list_dot_product(bq.x, bq.x))
                  * sqrt(list_dot_product(bn.x, bn.x))), 6) AS cosine
  FROM cand c
  JOIN base bq ON bq.id = c.query_id
  JOIN base bn ON bn.id = c.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= {k}"""
    return _ivf_training_sql(iters, dim).replace("__TAIL__", tail)


def _recall_tail_sql(
    qids: str, k_out: int = 10, id_col: str = "id", vec_col: str = "x"
) -> str:
    """The shared back half of every recall-report oracle: exact-side
    brute-force cosine top-k over ``base`` (ecand/etop), per-query
    intersection with an ``ltop(query_id, neighbor_id)`` CTE the
    CALLER must define just before appending this, and the final
    (query_id, n_exact, n_hits, recall) projection.  One definition so
    a future change to the exact-side rounding or tiebreak cannot
    silently diverge one report from its three siblings."""
    return f""", ecand AS (
  SELECT q.{id_col} AS query_id, b.{id_col} AS neighbor_id,
         ROUND(list_dot_product(q.{vec_col}, b.{vec_col})
               / (sqrt(list_dot_product(q.{vec_col}, q.{vec_col}))
                  * sqrt(list_dot_product(b.{vec_col}, b.{vec_col}))), 6)
           AS cosine
  FROM base q CROSS JOIN base b
  WHERE q.{id_col} IN {qids} AND b.{id_col} != q.{id_col}
), etop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS r
    FROM ecand) WHERE r <= {k_out}
), ne AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM etop GROUP BY query_id
), nh AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM etop e JOIN ltop l
    ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
)
SELECT ne.query_id, ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(nh.n_hits, 0) / ne.n_exact, 6) AS recall
FROM ne LEFT JOIN nh USING (query_id)"""


# Recall@k of the IVF path vs exact, replayed end to end: the training
# chain gives every vector's cell (asgf) and per-query probe ranking
# (ranked); both top-k sides and their intersection counts are
# deterministic, so the recall NUMBERS hash-check like the LSH twin.
def _ivf_recall_oracle_sql(
    iters: int = 4, nprobe: int | None = None, k: int = 10, dim: int = 64
) -> str:
    qids = "(" + ",".join(str(i) for i in (0, 1, 2, 3, 4)) + ")"
    npx = str(nprobe) if nprobe is not None else "(SELECT nprobe FROM prm)"
    tail = f""", probes AS (
  SELECT pid AS query_id, cell FROM ranked
  WHERE pid IN {qids} AND rn <= {npx}
), cand AS (
  SELECT p.query_id, m.pid AS neighbor_id
  FROM probes p JOIN asgf m ON m.cell = p.cell
  WHERE m.pid != p.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         ROUND(list_dot_product(bq.x, bn.x)
               / (sqrt(list_dot_product(bq.x, bq.x))
                  * sqrt(list_dot_product(bn.x, bn.x))), 6) AS cosine
  FROM cand c
  JOIN base bq ON bq.id = c.query_id
  JOIN base bn ON bn.id = c.neighbor_id
), ltop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {k}
)""" + _recall_tail_sql(qids, k)
    return _ivf_training_sql(iters, dim).replace("__TAIL__", tail)


# Oracle for docs_semantic_dedup (similarity.semantic_dedup):
# the IVF training replay provides every vector's final cell (asgf);
# within a cell, each pair (a < b) is scored with the raw-double cosine
# list_dot_product(xa,xb)/(sqrt(·)·sqrt(·)) — the identical left-to-
# right IEEE sum Spark's _dot fold performs — and b is marked
# a duplicate of its smallest-id evictor when the UNROUNDED cosine
# meets the threshold.  Cells, kept flags and dup_of pointers are all
# hash-checked.
def _semantic_dedup_oracle_sql(
    threshold: float = 0.45, iters: int = 4, dim: int = 64
) -> str:
    tail = f""", pr AS (
  SELECT a.pid AS keep_id, b.pid AS dup_id,
         list_dot_product(xa.x, xb.x)
           / (sqrt(list_dot_product(xa.x, xa.x))
              * sqrt(list_dot_product(xb.x, xb.x))) AS cos
  FROM asgf a JOIN asgf b ON a.cell = b.cell AND a.pid < b.pid
  JOIN base xa ON xa.id = a.pid
  JOIN base xb ON xb.id = b.pid
), dup AS (
  SELECT dup_id, MIN(keep_id) AS dup_of
  FROM pr WHERE cos >= {threshold!r} GROUP BY dup_id
)
SELECT f.pid AS vec_id, CAST(f.cell AS BIGINT) AS cell,
       d.dup_of IS NULL AS kept, d.dup_of AS dup_of
FROM asgf f LEFT JOIN dup d ON d.dup_id = f.pid"""
    return _ivf_training_sql(iters, dim).replace("__TAIL__", tail)


# Oracle for events_approx_user_counts (events.hll_user_counts): the
# replayable HLL rebuilds the registers from the same 60-bit sha256
# hash (9 index bits, 51 rank bits, bitlength via the base-2 string),
# sums 2^(52−M) terms in exact int64 (absent registers = 2^52 each),
# and applies the identical raw-estimate / linear-counting branch.
# Literal constants are pulled from the events module so the two sides
# can never drift.
def _hll_oracle_sql(factor: float = 3.0) -> str:
    m = evan._HLL_M
    b = evan._HLL_B
    numer = evan._HLL_NUMER
    rel = factor * 1.04 / (m ** 0.5)
    raw = (
        f"{numer!r} / CAST(s_present + ({m} - n_present) * "
        f"(CAST(1 AS BIGINT) << 52) AS DOUBLE)"
    )
    return f"""
WITH src AS (
  SELECT event_type,
         CAST(CAST('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)
              AS UBIGINT) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
), reg AS (
  SELECT event_type, h & {m - 1} AS idx,
         MAX(CASE WHEN (h >> {b}) = 0 THEN 52
                  ELSE 52 - length(bin(h >> {b})) END) AS M
  FROM src GROUP BY event_type, idx
), sk AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (52 - M)) AS BIGINT) AS s_present,
         COUNT(*) AS n_present
  FROM reg GROUP BY event_type
), est AS (
  SELECT event_type,
         CASE WHEN {raw} <= {2.5 * m!r} AND ({m} - n_present) > 0
              THEN {float(m)!r}
                   * ln({float(m)!r} / CAST({m} - n_present AS DOUBLE))
              ELSE {raw}
         END AS e
  FROM sk
), ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY event_type
)
SELECT x.event_type, x.exact_users,
       CAST(ROUND(e.e) AS BIGINT) AS hll_users,
       abs(CAST(ROUND(e.e) AS BIGINT) - x.exact_users)
         <= GREATEST(CAST(CEIL({rel!r} * x.exact_users) AS BIGINT),
                     CAST(1 AS BIGINT)) AS within_bound
FROM est e JOIN ex x USING (event_type)
"""


# Bit-exact mirror of similarity._pq_codebooks + _pq_encoder for
# emb_pq_encode.  Stronger than the IVF replay: every boundary decision
# is an int64 comparison (squared L2, first-min ties = lowest code), so
# there is NO float anywhere — seeds = first k sample subvectors, ITERS
# unrolled Lloyd rounds (argmin by row_number over (d2, cell); rounded
# per-coordinate mean floor((2·Σq + m)/(2m)); empty cells carry), then
# final assignment of every vector with the per-subspace winner pivoted
# into code columns and the exact total squared error.
def _pq_training_sql(
    m: int = 4, k: int = 16, iters: int = 4, dim: int = 64
) -> str:
    """Shared WITH-body ending at ``win`` (pid, sub, cell, d2 — every
    vector's per-subspace winning code + its exact squared error), used
    by both the encode oracle and the ADC-search oracle."""
    sub = dim // m
    parts = []
    for i in range(iters):
        parts.append(f"""
d{i} AS (
  SELECT q.id AS pid, c.sub, c.cell, SUM((q.q - c.c) * (q.q - c.c)) AS d2
  FROM samp s JOIN qv q ON q.id = s.id
  JOIN cb{i} c ON c.sub = q.sub AND c.sd = q.sd
  GROUP BY q.id, c.sub, c.cell
), asg{i} AS (
  SELECT pid, sub, cell FROM (
    SELECT pid, sub, cell,
           row_number() OVER (PARTITION BY pid, sub
                              ORDER BY d2, cell) AS rn
    FROM d{i})
  WHERE rn = 1
), cb{i + 1} AS MATERIALIZED (
  SELECT c.sub, c.cell, c.sd, COALESCE(u.mean, c.c) AS c
  FROM cb{i} c LEFT JOIN (
    SELECT g.sub, g.cell, q.sd,
           CAST(FLOOR(CAST(2 * SUM(q.q) + COUNT(*) AS DOUBLE)
                      / (2.0 * COUNT(*))) AS BIGINT) AS mean
    FROM asg{i} g JOIN qv q ON q.id = g.pid AND q.sub = g.sub
    GROUP BY g.sub, g.cell, q.sd) u
  ON u.sub = c.sub AND u.cell = c.cell AND u.sd = c.sd
)""")
    iter_ctes = ",".join(parts)
    return f"""
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), qv AS MATERIALIZED (
  SELECT b.id, d.d // {sub} AS sub, d.d % {sub} AS sd,
         CAST(FLOOR(b.x[d.d + 1] * 10000.0 + 0.5) AS BIGINT) AS q
  FROM base b, range({dim}) d(d)
), params AS (
  SELECT n, GREATEST(1, LEAST(1000, (20000 * 1000) // n)) AS permille
  FROM (SELECT COUNT(*) AS n FROM base)
), samp AS MATERIALIZED (
  SELECT id, rnk FROM (
    SELECT b.id, row_number() OVER (ORDER BY hh, b.id) AS rnk
    FROM (SELECT id,
                 CAST(CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 1, 15)
                      AS UBIGINT) % 1000 AS BIGINT) AS hh
          FROM base) b, params p
    WHERE b.hh < p.permille)
  WHERE rnk <= 20000
), cb0 AS MATERIALIZED (
  SELECT q.sub, CAST(s.rnk - 1 AS INT) AS cell, q.sd, q.q AS c
  FROM samp s JOIN qv q ON q.id = s.id
  WHERE s.rnk <= {k}
), {iter_ctes},
dfin AS (
  SELECT q.id AS pid, c.sub, c.cell, SUM((q.q - c.c) * (q.q - c.c)) AS d2
  FROM qv q JOIN cb{iters} c ON c.sub = q.sub AND c.sd = q.sd
  GROUP BY q.id, c.sub, c.cell
), win AS (
  SELECT pid, sub, cell, d2 FROM (
    SELECT pid, sub, cell, d2,
           row_number() OVER (PARTITION BY pid, sub
                              ORDER BY d2, cell) AS rn
    FROM dfin)
  WHERE rn = 1
)
__TAIL__
"""


def _pq_oracle_sql(
    m: int = 4, k: int = 16, iters: int = 4, dim: int = 64
) -> str:
    code_cols = ",\n       ".join(
        f"CAST(MAX(CASE WHEN sub = {j} THEN cell END) AS INT) AS code_{j}"
        for j in range(m)
    )
    tail = f"""SELECT pid AS vec_id,
       {code_cols},
       CAST(SUM(d2) AS BIGINT) AS recon_err
FROM win GROUP BY pid"""
    return _pq_training_sql(m, k, iters, dim).replace("__TAIL__", tail)


# ADC search oracle: on top of the training replay, each query's
# quantized subvectors get exact integer dot products against every
# final centroid (dq) and every centroid its exact squared norm (cn2);
# a vector's score is the cosine of the query against its PQ
# reconstruction, a/sqrt(n2), from those exact int64 sums — identical to
# the Spark side's baked-in lookup tables (same _int_cos_matrix recipe,
# so the doubles are bit-identical).  Rank desc with id tiebreak.
def _pq_adc_oracle_sql(
    query_ids: tuple[int, ...],
    k_out: int = 10,
    m: int = 4,
    k: int = 16,
    iters: int = 4,
    dim: int = 64,
) -> str:
    qids = "(" + ",".join(str(i) for i in query_ids) + ")"
    score = """CASE WHEN n2 = 0 THEN -2.0
              ELSE CAST(a AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) END"""
    tail = f"""SELECT query_id, neighbor_id, rank, adc_cos FROM (
  SELECT query_id, neighbor_id,
         {score} AS adc_cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {score} DESC, neighbor_id) AS rank
  FROM (
    SELECT d.qid AS query_id, w.pid AS neighbor_id,
           CAST(SUM(d.a) AS BIGINT) AS a,
           CAST(SUM(n.n2) AS BIGINT) AS n2
    FROM win w
    JOIN (
      SELECT q.id AS qid, c.sub, c.cell, SUM(q.q * c.c) AS a
      FROM qv q JOIN cb{iters} c ON c.sub = q.sub AND c.sd = q.sd
      WHERE q.id IN {qids}
      GROUP BY q.id, c.sub, c.cell) d
    ON d.sub = w.sub AND d.cell = w.cell
    JOIN (
      SELECT sub, cell, SUM(c * c) AS n2
      FROM cb{iters} GROUP BY sub, cell) n
    ON n.sub = w.sub AND n.cell = w.cell
    WHERE w.pid != d.qid
    GROUP BY d.qid, w.pid))
WHERE rank <= {k_out}"""
    return _pq_training_sql(m, k, iters, dim).replace("__TAIL__", tail)


# Recall@k of the ADC compressed-domain search vs exact, replayed end
# to end like the IVF twin: the PQ training chain gives every vector's
# per-subspace codes (win); the ADC side scores queries against
# reconstructions from exact int64 lookup sums, the exact side is the
# raw-double cosine baseline; both top-k sets and the intersection
# counts are deterministic, so recall hash-checks.
def _adc_recall_oracle_sql(
    query_ids: tuple[int, ...] = TOPK_QUERY_IDS,
    k_out: int = 10,
    m: int = 16,
    k: int = 16,
    iters: int = 4,
    dim: int = 64,
) -> str:
    qids = "(" + ",".join(str(i) for i in query_ids) + ")"
    score = """CASE WHEN n2 = 0 THEN -2.0
              ELSE CAST(a AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) END"""
    tail = f""", ltop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {score} DESC, neighbor_id) AS rank
    FROM (
      SELECT d.qid AS query_id, w.pid AS neighbor_id,
             CAST(SUM(d.a) AS BIGINT) AS a,
             CAST(SUM(n.n2) AS BIGINT) AS n2
      FROM win w
      JOIN (
        SELECT q.id AS qid, c.sub, c.cell, SUM(q.q * c.c) AS a
        FROM qv q JOIN cb{iters} c ON c.sub = q.sub AND c.sd = q.sd
        WHERE q.id IN {qids}
        GROUP BY q.id, c.sub, c.cell) d
      ON d.sub = w.sub AND d.cell = w.cell
      JOIN (
        SELECT sub, cell, SUM(c * c) AS n2
        FROM cb{iters} GROUP BY sub, cell) n
      ON n.sub = w.sub AND n.cell = w.cell
      WHERE w.pid != d.qid
      GROUP BY d.qid, w.pid))
  WHERE rank <= {k_out}
)""" + _recall_tail_sql(qids, k_out)
    return _pq_training_sql(m, k, iters, dim).replace("__TAIL__", tail)


# Combined IVF-PQ search oracle for emb_ivf_pq_topk: ONE replay contains
# both quantizer trainings (IVF cent{i} chain verbatim from
# _ivf_oracle_sql; PQ cb{i} chain from _pq_training_sql with pd/pasg CTE
# names to avoid collisions and a qp view deriving (sub, sd) from the
# shared 1e4-quantized qv), the IVF probe ranking, the candidate
# equi-join on the probed cells, and ADC reconstruction-cosine scoring
# of only those candidates.  Every boundary decision is an exact int64
# comparison or a double computed from exact int64s — hash-checkable.
def _ivf_pq_oracle_sql(
    query_ids: tuple[int, ...],
    k_out: int = 10,
    ivf_iters: int = 4,
    nprobe: int | None = None,
    m: int = 16,
    k_codes: int = 16,
    pq_iters: int = 4,
    dim: int = 64,
    tail: str | None = None,
) -> str:
    qids = "(" + ",".join(str(i) for i in query_ids) + ")"
    npx = str(nprobe) if nprobe is not None else "(SELECT nprobe FROM prm)"
    sub = dim // m
    ivf_parts = []
    for i in range(ivf_iters):
        ivf_parts.append(f"""
a{i} AS (
  SELECT q.id AS pid, c.cell, SUM(q.q * c.c) AS a
  FROM samp s JOIN qv q ON q.id = s.id JOIN cent{i} c ON c.d = q.d
  GROUP BY q.id, c.cell
), n2_{i} AS (
  SELECT cell, SUM(c * c) AS n2 FROM cent{i} GROUP BY cell
), asg{i} AS (
  SELECT pid, cell FROM (
    SELECT a.pid, a.cell,
           row_number() OVER (PARTITION BY a.pid ORDER BY
             CASE WHEN n.n2 = 0 THEN -2.0
                  ELSE CAST(a.a AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END
               DESC,
             a.cell) AS rn
    FROM a{i} a JOIN n2_{i} n USING (cell))
  WHERE rn = 1
), cent{i + 1} AS MATERIALIZED (
  SELECT c.cell, c.d, COALESCE(u.mean, c.c) AS c
  FROM cent{i} c LEFT JOIN (
    SELECT g.cell, q.d,
           CAST(FLOOR(CAST(2 * SUM(q.q) + COUNT(*) AS DOUBLE)
                      / (2.0 * COUNT(*))) AS BIGINT) AS mean
    FROM asg{i} g JOIN qv q ON q.id = g.pid
    GROUP BY g.cell, q.d) u
  ON u.cell = c.cell AND u.d = c.d
)""")
    pq_parts = []
    for i in range(pq_iters):
        pq_parts.append(f"""
pd{i} AS (
  SELECT q.id AS pid, c.sub, c.cell, SUM((q.q - c.c) * (q.q - c.c)) AS d2
  FROM samp s JOIN qp q ON q.id = s.id
  JOIN cb{i} c ON c.sub = q.sub AND c.sd = q.sd
  GROUP BY q.id, c.sub, c.cell
), pasg{i} AS (
  SELECT pid, sub, cell FROM (
    SELECT pid, sub, cell,
           row_number() OVER (PARTITION BY pid, sub
                              ORDER BY d2, cell) AS rn
    FROM pd{i})
  WHERE rn = 1
), cb{i + 1} AS MATERIALIZED (
  SELECT c.sub, c.cell, c.sd, COALESCE(u.mean, c.c) AS c
  FROM cb{i} c LEFT JOIN (
    SELECT g.sub, g.cell, q.sd,
           CAST(FLOOR(CAST(2 * SUM(q.q) + COUNT(*) AS DOUBLE)
                      / (2.0 * COUNT(*))) AS BIGINT) AS mean
    FROM pasg{i} g JOIN qp q ON q.id = g.pid AND q.sub = g.sub
    GROUP BY g.sub, g.cell, q.sd) u
  ON u.sub = c.sub AND u.cell = c.cell AND u.sd = c.sd
)""")
    score = """CASE WHEN n2 = 0 THEN -2.0
              ELSE CAST(a AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) END"""
    return f"""
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), qv AS MATERIALIZED (
  SELECT b.id, d.d,
         CAST(FLOOR(b.x[d.d + 1] * 10000.0 + 0.5) AS BIGINT) AS q
  FROM base b, range({dim}) d(d)
), qp AS MATERIALIZED (
  SELECT id, d // {sub} AS sub, d % {sub} AS sd, q FROM qv
), params AS (
  -- nlist/permille replay similarity's corpus-size rules; nprobe moved
  -- to the prm CTE (r15): it now replays the structure-adaptive
  -- suggest_ivf_nprobe(margin_micro=...) from the training-sample
  -- margin statistic (see _ivf_margin_sql).
  SELECT n, nlist,
         GREATEST(1, LEAST(1000, (20000 * 1000) // n)) AS permille
  FROM (SELECT n,
               GREATEST(4, CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) / 2) AS INT))
                 AS nlist
        FROM (SELECT COUNT(*) AS n FROM base))
), samp AS MATERIALIZED (
  SELECT id, rnk FROM (
    SELECT b.id, row_number() OVER (ORDER BY hh, b.id) AS rnk
    FROM (SELECT id,
                 CAST(CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 1, 15)
                      AS UBIGINT) % 1000 AS BIGINT) AS hh
          FROM base) b, params p
    WHERE b.hh < p.permille)
  WHERE rnk <= 20000
), cent0 AS MATERIALIZED (
  SELECT CAST(s.rnk - 1 AS INT) AS cell, q.d, q.q AS c
  FROM samp s JOIN qv q ON q.id = s.id, params p
  WHERE s.rnk <= p.nlist
), {",".join(ivf_parts)},
af AS (
  SELECT q.id AS pid, c.cell, SUM(q.q * c.c) AS a
  FROM qv q JOIN cent{ivf_iters} c ON c.d = q.d
  GROUP BY q.id, c.cell
), n2f AS MATERIALIZED (
  SELECT cell, SUM(c * c) AS n2 FROM cent{ivf_iters} GROUP BY cell
), ranked AS MATERIALIZED (
  SELECT a.pid, a.cell,
         row_number() OVER (PARTITION BY a.pid ORDER BY
           CASE WHEN n.n2 = 0 THEN -2.0
                ELSE CAST(a.a AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END
             DESC,
           a.cell) AS rn
  FROM af a JOIN n2f n USING (cell)
), asgf AS MATERIALIZED (
  SELECT pid, cell FROM ranked WHERE rn = 1
){_ivf_margin_sql(f"cent{ivf_iters}")}, probes AS (
  SELECT pid AS query_id, cell FROM ranked
  WHERE pid IN {qids} AND rn <= {npx}
), cb0 AS MATERIALIZED (
  SELECT q.sub, CAST(s.rnk - 1 AS INT) AS cell, q.sd, q.q AS c
  FROM samp s JOIN qp q ON q.id = s.id
  WHERE s.rnk <= {k_codes}
), {",".join(pq_parts)},
dfin AS (
  SELECT q.id AS pid, c.sub, c.cell, SUM((q.q - c.c) * (q.q - c.c)) AS d2
  FROM qp q JOIN cb{pq_iters} c ON c.sub = q.sub AND c.sd = q.sd
  GROUP BY q.id, c.sub, c.cell
), win AS (
  SELECT pid, sub, cell FROM (
    SELECT pid, sub, cell,
           row_number() OVER (PARTITION BY pid, sub
                              ORDER BY d2, cell) AS rn
    FROM dfin)
  WHERE rn = 1
), cand AS (
  SELECT p.query_id, v.pid AS neighbor_id
  FROM probes p JOIN asgf v ON v.cell = p.cell
  WHERE v.pid != p.query_id
), dq AS (
  SELECT q.id AS qid, c.sub, c.cell, SUM(q.q * c.c) AS a
  FROM qp q JOIN cb{pq_iters} c ON c.sub = q.sub AND c.sd = q.sd
  WHERE q.id IN {qids}
  GROUP BY q.id, c.sub, c.cell
), cn2 AS (
  SELECT sub, cell, SUM(c * c) AS n2 FROM cb{pq_iters} GROUP BY sub, cell
), rec AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(SUM(d.a) AS BIGINT) AS a,
         CAST(SUM(n.n2) AS BIGINT) AS n2
  FROM cand c
  JOIN win w ON w.pid = c.neighbor_id
  JOIN dq d ON d.qid = c.query_id AND d.sub = w.sub AND d.cell = w.cell
  JOIN cn2 n ON n.sub = w.sub AND n.cell = w.cell
  GROUP BY c.query_id, c.neighbor_id
)
__TAIL__
""".replace(
        "__TAIL__",
        tail
        or f"""SELECT query_id, neighbor_id, rank, adc_cos FROM (
  SELECT query_id, neighbor_id,
         {score} AS adc_cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {score} DESC, neighbor_id) AS rank
  FROM rec)
WHERE rank <= {k_out}""",
    )


# Recall@k of the composed IVF-PQ path vs exact — the recall matrix's
# fourth corner (LSH, IVF, ADC, IVF-PQ): the shared replay already
# yields every candidate's reconstruction score (rec); the recall tail
# ranks them, ranks the exact raw-double side, and intersects.  IVF-PQ
# recall is bounded by BOTH quantizers (probe misses and code
# round-off), which is exactly why the composed number deserves its
# own graded query next to the per-stage ones.
def _ivf_pq_recall_oracle_sql(
    query_ids: tuple[int, ...] = TOPK_QUERY_IDS, k_out: int = 10
) -> str:
    qids = "(" + ",".join(str(i) for i in query_ids) + ")"
    score = """CASE WHEN n2 = 0 THEN -2.0
              ELSE CAST(a AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) END"""
    tail = f""", ltop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {score} DESC, neighbor_id) AS rank
    FROM rec)
  WHERE rank <= {k_out}
)""" + _recall_tail_sql(qids, k_out)
    return _ivf_pq_oracle_sql(query_ids, k_out, m=16, tail=tail)


SHINGLES_CTE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([tk[i]||' '||tk[i+1]||' '||tk[i+2]
                        for i in range(1, len(tk)-1)]) AS s
  FROM t
)
"""

# Shared tail for the connected-component oracles (docs_dedup_clusters,
# docs_cluster_keep_longest): verified >=0.8-Jaccard pair graph →
# bidirectional edges → recursive transitive closure; the component id
# is MIN over everything reachable.
CLUSTERS_CTE_TAIL = """
, sz AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pr AS (
  SELECT cand.doc_a, cand.doc_b
  FROM cand
  JOIN sz sa ON sa.doc_id = cand.doc_a
  JOIN sz sb ON sb.doc_id = cand.doc_b
  WHERE ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) >= 0.8
),
edges AS MATERIALIZED (
  -- MATERIALIZED: DuckDB inlines plain CTEs, so the recursive step
  -- would re-run the shingle/candidate pipeline every iteration (the
  -- emb_semantic_clusters_lsh lesson — >29 GB spill at sf0.1).
  SELECT doc_a AS a, doc_b AS b FROM pr
  UNION ALL
  SELECT doc_b, doc_a FROM pr
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
"""

# Inverted-index form (mirrors the Spark ngram_jaccard_pairs shape): pairs
# are generated by an equi-join on the shingle and Jaccard is derived from
# the shared count and the two set sizes — identical output to the naive
# all-pairs list_intersect form (verified) but ~95x faster in DuckDB
# (0.13 s vs 12.3 s at sf0.01), which keeps the driver's correctness
# sweep comfortably inside its time budget even though this oracle runs
# twice (minhash_lsh + ngram_jaccard).
NEAR_DUP_SQL = (
    SHINGLES_CTE
    + """
, sz AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT cand.doc_a, cand.doc_b,
       ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) AS jaccard
FROM cand
JOIN sz sa ON sa.doc_id = cand.doc_a
JOIN sz sb ON sb.doc_id = cand.doc_b
WHERE ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 4) >= 0.8
"""
)


def _minhash_recall_oracle_sql(
    bands: int = 16, rows_per_band: int = 4
) -> str:
    """Replay of dedup.minhash_recall_report: the integer-exact minhash
    twin (md5-prefix shingle hash mod 2^31-1, Carter-Wegman minima with
    the SAME sha256-derived coefficients) plus the exact inverted-index
    Jaccard ground truth, down to the identical one-row counters."""
    p = docdedup._MH_P31
    coeffs = docdedup._mh_cw_coeffs(bands * rows_per_band)
    mins = ",\n       ".join(
        f"MIN((h*{a}+{b})%{p}) AS s{i}" for i, (a, b) in enumerate(coeffs)
    )
    arms = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {idx} AS band_idx, {key} AS band_key FROM sig".format(
            idx=b,
            key="||'_'||".join(
                f"CAST(s{b * rows_per_band + j} AS VARCHAR)"
                for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return (
        SHINGLES_CTE
        + f"""
, ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
hh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {p} AS h
  FROM ex
),
sig AS (
  SELECT doc_id,
       {mins}
  FROM hh GROUP BY doc_id
),
band AS (
{arms}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a
  JOIN band b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
shr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT shr.doc_a, shr.doc_b
  FROM shr
  JOIN sz sa ON sa.doc_id = shr.doc_a
  JOIN sz sb ON sb.doc_id = shr.doc_b
  WHERE ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 4)
        >= 0.8
),
caught AS (
  SELECT exact.doc_a FROM exact
  JOIN cand ON exact.doc_a = cand.doc_a AND exact.doc_b = cand.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact_pairs,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_band_candidates,
       CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
       CASE WHEN (SELECT COUNT(*) FROM exact) > 0
            THEN ROUND(CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
                       / (SELECT COUNT(*) FROM exact), 6)
            ELSE NULL END AS recall
"""
    )


# ---------------------------------------------------------------------------
# entry — flagship E2E pipeline (smoke check, sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference hot path (filter → dedup → enrich → project,
    SURVEY.md §3.1) over the sf0.001 fixtures in batch binding."""
    sf_dir = "/root/testdata/sf0.001"
    events = _k8s_events(spark, sf_dir)
    eligible = filters.eligible_events(events, blacklist=NS_BLACKLIST)
    # message (not ref_uid, which is functionally constant per uid) breaks
    # same-timestamp ties so the surviving row is deterministic.
    deduped = opsdedup.dedup_first_seen(
        eligible, keys=["uid"], order_by=["creation_ts", "message"]
    )
    enriched = joins.enrich_involved_object(deduped, _objects(spark, sf_dir))
    enriched = joins.node_addresses(enriched, _nodes(spark, sf_dir))
    enriched = joins.conditional_pod_enrich(enriched)
    return project_enriched_l9(enriched)


# ---------------------------------------------------------------------------
# queries — one entry per operator
# ---------------------------------------------------------------------------


def _q_p1(spark, sf_dir):
    return filters.namespace_blacklist(_k8s_events(spark, sf_dir), NS_BLACKLIST)


def _q_p2(spark, sf_dir):
    return filters.namespace_whitelist(
        _k8s_events(spark, sf_dir), ("ns-3", "ns-4", "ns-5")
    )


def _q_p3(spark, sf_dir):
    return filters.reason_whitelist(
        _k8s_events(spark, sf_dir), ("click", "purchase")
    )


def _q_p4(spark, sf_dir):
    svc = _services(spark, sf_dir)
    return filters.drop_default_service(svc).select(
        "uid", "name", "namespace", "resource_version", "event_type"
    )


def _q_p5(spark, sf_dir):
    return filters.eligible_events(
        _k8s_events(spark, sf_dir),
        blacklist=NS_BLACKLIST,
        reasons=REASON_WHITELIST,
    )


def _q_p6(spark, sf_dir):
    return opsproject.l9event_projection(_k8s_events(spark, sf_dir))


def _q_p10(spark, sf_dir):
    out = opsproject.service_event_synthesis(_services(spark, sf_dir))
    # wall-clock timestamp and map columns excluded from oracle comparison
    return out.drop("timestamp", "labels", "annotations")


def _q_p7(spark, sf_dir):
    pods = _pods(spark, sf_dir)
    return pods.select(opsproject.mini_pod_info().alias("p")).select(
        F.col("p.uid").alias("pod_uid"),
        F.col("p.name").alias("pod_name"),
        F.col("p.namespace").alias("pod_namespace"),
        F.col("p.start_time").alias("pod_start_time"),
        F.col("p.ip").alias("pod_ip"),
        F.col("p.host_ip").alias("pod_host_ip"),
    )


def _q_p8(spark, sf_dir):
    # Corrupt every 97th payload to pin the PERMISSIVE null-on-corrupt
    # semantics (reference event.go:100-111 logs and continues).
    ev = load_table(spark, sf_dir, "events")
    payload = ev.select(
        "event_id",
        F.when(F.col("event_id") % 97 == 0, F.lit("{not json"))
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    decoded = opsproject.decode_dynamic_object(
        payload, "payload", "struct<k:bigint>"
    )
    return decoded.select(
        "event_id",
        F.col("payload.k").alias("k"),
        F.col("payload.k").isNotNull().alias("decoded_ok"),
    )


def _q_p9(spark, sf_dir):
    out = joins.enrich_involved_object(
        _k8s_events(spark, sf_dir), _objects(spark, sf_dir)
    )
    out = opsproject.extract_labels_annotations(out)
    return out.select(
        "uid",
        F.element_at(F.col("labels"), F.lit("segment")).alias("segment_label"),
        F.size(F.col("annotations")).cast("bigint").alias("n_annotations"),
    )


def _q_u1(spark, sf_dir):
    ev_l9 = opsproject.l9event_projection(_k8s_events(spark, sf_dir))
    svc_l9 = opsproject.service_event_synthesis(_services(spark, sf_dir)).drop(
        "timestamp", "labels", "annotations"
    )
    return joins.union_streams(ev_l9, svc_l9)


def _q_f2(spark, sf_dir):
    ev = _k8s_events(spark, sf_dir)
    return ev.select(
        "uid",
        opsproject.cache_key(F.lit("Events"), "uid").alias("cache_key"),
    )


def _q_f1(spark, sf_dir):
    ev = _k8s_events(spark, sf_dir)
    return ev.select("uid", F.lower(F.col("ref_kind")).alias("kind_lower"))


def _q_f3(spark, sf_dir):
    ev = _k8s_events(spark, sf_dir)
    keyed = ev.select(
        "uid", opsproject.cache_key(F.lit("Events"), "uid").alias("ck")
    )
    return keyed.select(
        "uid", "ck", opsproject.strip_prefix("ck", "events").alias("stripped")
    )


def _q_f5(spark, sf_dir):
    ev = _k8s_events(spark, sf_dir)
    return ev.select(
        "uid", opsproject.epoch_seconds("creation_ts").alias("epoch_s")
    )


def _q_f7(spark, sf_dir):
    return evan.extract_props(load_table(spark, sf_dir, "events"))


def _q_f8(spark, sf_dir):
    ev = _k8s_events(spark, sf_dir)
    return ev.select(
        "uid", opsproject.version_gte("uid", F.lit("500")).alias("is_gte")
    )


def _q_d1(spark, sf_dir):
    return opsdedup.dedup_first_seen(
        _k8s_events(spark, sf_dir),
        keys=["ref_uid", "reason"],
        order_by=["creation_ts", "uid"],
    )


def _q_d2(spark, sf_dir):
    ev = _k8s_events(spark, sf_dir)
    return opsdedup.keep_latest_version(ev, key="ref_uid", version_col="uid").select(
        "ref_uid", F.col("uid").alias("version"), "reason"
    )


def _q_j1(spark, sf_dir):
    out = joins.enrich_involved_object(
        _k8s_events(spark, sf_dir), _objects(spark, sf_dir)
    )
    return out.select("uid", "ref_uid", "obj_uid", "obj_name", "obj_kind")


def _q_j2(spark, sf_dir):
    out = joins.node_addresses(_k8s_events(spark, sf_dir), _nodes(spark, sf_dir))
    return out.select(
        "uid",
        "source_host",
        F.array_join("address", ",").alias("address_csv"),
    )


def _q_j3(spark, sf_dir):
    out = joins.enrich_involved_object(
        _k8s_events(spark, sf_dir), _objects(spark, sf_dir)
    )
    out = joins.conditional_pod_enrich(out)
    return out.select("uid", "obj_kind", "pod_uid", "pod_name", "pod_ip")


def _q_j4(spark, sf_dir):
    pairs = _j4_pairs(spark, sf_dir)
    return pairs.groupBy("service_uid").agg(
        F.count(F.lit(1)).alias("n_pods"),
        F.min(F.col("pod_uid").cast("bigint")).alias("min_pod"),
        F.max(F.col("pod_uid").cast("bigint")).alias("max_pod"),
    )


def _q_j5(spark, sf_dir):
    # r16 (the a1 lesson, guide §1.2/§2.3): the declared panel — and
    # the oracle — is COUNT(*) + MIN(service_uid) per pod; building the
    # sorted service-set arrays (pod_service_reverse_index, kept as the
    # reference-parity operator) only to take size() and element 1
    # shuffled every per-pod service list for nothing.  J4 pairs are
    # distinct by construction (the r15-green set-size == the oracle's
    # COUNT(*) proves it), so count == set size and min == first sorted
    # element.
    return (
        _j4_pairs(spark, sf_dir)
        .groupBy(F.col("pod_uid").cast("bigint").alias("pod_uid"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_services"),
            F.min("service_uid").alias("first_service"),
        )
    )


def _q_j6(spark, sf_dir):
    pairs = joins.label_selector_join(
        _services(spark, sf_dir, max_custkey=100), _deployments(spark, sf_dir)
    )
    return pairs.groupBy("service_uid").agg(
        F.count(F.lit(1)).alias("n_deploys"),
        F.min(F.col("pod_uid").cast("bigint")).alias("min_deploy"),
        F.max(F.col("pod_uid").cast("bigint")).alias("max_deploy"),
    )


def _q_a1(spark, sf_dir):
    # r16 (VERDICT r15 item 6): the declared panel is COUNT + MIN(name)
    # per service (see the oracle); service_pod_stats computes exactly
    # that from the narrow pairs instead of building/shuffling the
    # ~3M-entry JSON map only to take size() and the first key of it
    # (size(pod) == count and first key == min name whenever names are
    # unique per service — the map form's EXCEPTION dedup policy
    # guarantee; equality pinned in tests/test_joins.py).
    return joins.service_pod_stats(
        _j4_pairs(spark, sf_dir), _pods(spark, sf_dir)
    )


def _q_a1_sharded(spark, sf_dir):
    # the 100 TB variant: same shard assignment as the pod-map operator
    # (shared rank/offset machinery; shard_size=1000 makes the
    # empty-selector services span multiple shards even at sf0.01, so
    # the split logic is exercised), narrow stats aggregation (r16 —
    # see _q_a1).
    return joins.service_pod_shard_stats(
        _j4_pairs(spark, sf_dir), _pods(spark, sf_dir), shard_size=1000
    )


def _q_q1(spark, sf_dir):
    return tpch.q1_pricing_summary(load_table(spark, sf_dir, "lineitem"))


def _q_q3(spark, sf_dir):
    return tpch.q3_shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_q5(spark, sf_dir):
    return tpch.q5_local_supplier_volume(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


def _q_q6(spark, sf_dir):
    return tpch.q6_forecast_revenue(load_table(spark, sf_dir, "lineitem"))


def _q_q14(spark, sf_dir):
    return tpch.q14_promo_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def _q_q4(spark, sf_dir):
    return tpch.q4_order_priority_check(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_q10(spark, sf_dir):
    # customer carries no broadcast hint (fact-sized at scale; AQE decides)
    return tpch.q10_returned_items(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


def _q_q18(spark, sf_dir):
    # customer carries no broadcast hint (fact-sized at scale; AQE decides)
    return tpch.q18_large_volume_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_q12(spark, sf_dir):
    return tpch.q12_priority_by_flag(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_q13(spark, sf_dir):
    return tpch.q13_customer_distribution(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def _q_q15(spark, sf_dir):
    return tpch.q15_top_supplier(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_q17(spark, sf_dir):
    return tpch.q17_small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def _q_q19(spark, sf_dir):
    return tpch.q19_discounted_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def _q_q22(spark, sf_dir):
    return tpch.q22_global_sales_opportunity(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def _q_q2(spark, sf_dir):
    return tpch.q2_min_cost_supplier(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_q11(spark, sf_dir):
    return tpch.q11_important_part_value(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def _q_q16(spark, sf_dir):
    return tpch.q16_supplier_count(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


def _q_q20(spark, sf_dir):
    return tpch.q20_excess_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def _q_q21(spark, sf_dir):
    return tpch.q21_waiting_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


def _q_q7(spark, sf_dir):
    return tpch.q7_volume_shipping(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def _q_q8(spark, sf_dir):
    return tpch.q8_market_share(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def _q_q9(spark, sf_dir):
    return tpch.q9_product_type_profit(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


def _q_window_top(spark, sf_dir):
    return tpch.top_orders_per_customer(load_table(spark, sf_dir, "orders"))


def _q_rollup(spark, sf_dir):
    return tpch.order_priority_rollup(load_table(spark, sf_dir, "orders"))


def _q_cust_stats(spark, sf_dir):
    return tpch.customer_order_stats(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def _q_hourly(spark, sf_dir):
    return evan.hourly_type_counts(load_table(spark, sf_dir, "events"))


def _q_sessionize(spark, sf_dir):
    return evan.sessionize(load_table(spark, sf_dir, "events"))


def _q_session_window(spark, sf_dir):
    return evan.session_window_agg(load_table(spark, sf_dir, "events"))


def _q_value_quantiles(spark, sf_dir):
    return evan.value_quantiles(load_table(spark, sf_dir, "events"))


def _q_value_quantiles_sketch(spark, sf_dir):
    # Bounded-state scale twin of events_value_quantiles: equi-width
    # histogram bins instead of exact per-group value gathering; every
    # boundary decision is an int64 compare, so the estimates replay.
    return evan.value_quantiles_sketch(load_table(spark, sf_dir, "events"))


def _q_approx_users(spark, sf_dir):
    # Hash-checked since r8: the replayable HLL (engine-portable sha256
    # registers, exact-int64 harmonic sum, linear-counting correction)
    # replaces Spark's engine-specific HLL++ sketch as the graded
    # surface — the ESTIMATE itself is oracle-replayed, and the HLL++
    # path stays covered through events_approx_distinct_bound.
    return evan.hll_user_counts(load_table(spark, sf_dir, "events"))


def _q_user_matrix(spark, sf_dir):
    return evan.user_type_matrix(load_table(spark, sf_dir, "events"))


def _q_token_count(spark, sf_dir):
    return textan.token_count(load_table(spark, sf_dir, "documents"))


def _q_term_stats(spark, sf_dir):
    return textan.term_stats(load_table(spark, sf_dir, "documents"))


def _q_lang_id(spark, sf_dir):
    return textan.lang_id(load_table(spark, sf_dir, "documents"))


def _q_quality(spark, sf_dir):
    return textan.quality_score(load_table(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    return textan.fingerprint(load_table(spark, sf_dir, "documents"))


def _q_dedup_exact(spark, sf_dir):
    return docdedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def _q_dedup_canonical(spark, sf_dir):
    return docdedup.canonical_dedup(load_table(spark, sf_dir, "documents"))


def _q_minhash_lsh(spark, sf_dir):
    return docdedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_minhash_recall(spark, sf_dir):
    # Measured S-curve recall of MinHash banding vs the exact Jaccard
    # ground truth (the dedup twin of r9's ann_recall_report): the
    # integer-exact Carter-Wegman/md5 signature family replays in the
    # oracle bit-for-bit, so the recall number itself hash-checks.
    return docdedup.minhash_recall_report(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_containment_pairs(spark, sf_dir):
    # Doc-in-doc near-containment via mod-p sampled k-gram fingerprints
    # (Broder modulus sampling) — deterministic md5 path, oracle-replayed.
    return docdedup.containment_pairs(load_table(spark, sf_dir, "documents"))


def _q_containment_dedup(spark, sf_dir):
    # The removal half: per doc, kept / contained_in (smaller-
    # fingerprint side drops, smallest container as the pointer).
    return docdedup.containment_dedup(load_table(spark, sf_dir, "documents"))


def _q_containment_roots(spark, sf_dir):
    # Transitive resolution of contained_in chains: path-doubling
    # pointer jumps to a KEPT root (c ⊂ b ⊂ a → both point at a).
    return docdedup.containment_roots(load_table(spark, sf_dir, "documents"))


def _q_eval_contamination(spark, sf_dir):
    # Eval set = a deterministic benchmark-sized slice of the corpus
    # (doc_id % 31); contamination = other docs leaking its 5-grams.
    docs = load_table(spark, sf_dir, "documents")
    return docdedup.eval_contamination(
        docs, docs.where(F.col("doc_id") % 31 == 0)
    )


def _q_source_mix(spark, sf_dir):
    return textan.source_mix_stats(load_table(spark, sf_dir, "documents"))


def _q_remove_boilerplate(spark, sf_dir):
    return docdedup.remove_boilerplate(
        load_table(spark, sf_dir, "documents"), seg_tokens=3, min_df=3
    )


def _q_resize_image(spark, sf_dir):
    blobs = multimodal.synth_image_blobs(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.resize_image(blobs)


def _q_ngram_novelty(spark, sf_dir):
    return textan.ngram_novelty(load_table(spark, sf_dir, "documents"))


def _q_corpus_top_ngrams(spark, sf_dir):
    return textan.corpus_top_ngrams(load_table(spark, sf_dir, "documents"))


def _q_cluster_keep_longest(spark, sf_dir):
    return docdedup.cluster_keep_longest(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_global_shuffle(spark, sf_dir):
    from k8stream_spark.analytics import splits

    return splits.global_shuffle(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


def _q_c4_quality_filters(spark, sf_dir):
    return textan.c4_quality_filters(load_table(spark, sf_dir, "documents"))


def _q_temperature_sample(spark, sf_dir):
    from k8stream_spark.analytics import splits

    return splits.source_temperature_sample(
        load_table(spark, sf_dir, "documents")
    )


def _q_source_quota_cap(spark, sf_dir):
    from k8stream_spark.analytics import splits

    # quota 15 bites at every fixture sf; at sf0.1 the per-source counts
    # (~250) also engage the broadcast pre-thin scale path (rate < 1000),
    # so the local sweep exercises both branches.
    return splits.source_quota_cap(load_table(spark, sf_dir, "documents"), quota=15)


def _q_semantic_dedup(spark, sf_dir):
    # The operator trains the integer-exact IVF quantizer, so cells,
    # kept flags and dup_of pointers all replay in the DuckDB oracle
    # (_semantic_dedup_oracle_sql).
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45
    )


def _q_semantic_dedup_invariants(spark, sf_dir):
    # Property companion of docs_semantic_dedup: three integers
    # (coverage, within-cell completeness, pointer totality) that hold
    # for ANY cell assignment, so the oracle grades them without
    # reproducing the quantizer.
    return similarity.semantic_dedup_invariants(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45
    )


def _q_approx_distinct_bound(spark, sf_dir):
    # Hash-checkable shadow of events_approx_user_counts: HLL++ is
    # deterministic, so "estimate within 3×rsd of exact" is a stable
    # graded bit per group, not a flaky tolerance.
    return evan.approx_distinct_bound(load_table(spark, sf_dir, "events"))


def _q_ngram_jaccard(spark, sf_dir):
    return docdedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_simhash(spark, sf_dir):
    return docdedup.simhash_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3
    )


def _q_bpe_token_count(spark, sf_dir):
    return textan.bpe_token_count(load_table(spark, sf_dir, "documents"))


def _q_rolling_fingerprint(spark, sf_dir):
    return textan.rolling_fingerprint(load_table(spark, sf_dir, "documents"))


def _q_cosine_near_dup(spark, sf_dir):
    return similarity.cosine_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45, dim=64
    )


def _q_cosine_near_dup_lsh(spark, sf_dir):
    return similarity.cosine_near_dup_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45
    )


def _q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS, k=10
    )


def _q_cosine_topk_lsh(spark, sf_dir):
    return similarity.cosine_topk_lsh(
        load_table(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS, k=10
    )


def _q_ann_recall_report(spark, sf_dir):
    # recall@10 of the LSH top-k vs the exact baseline, per query —
    # both sides deterministic, so the recall itself is hash-checked.
    return similarity.ann_recall_report(
        load_table(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS, k=10
    )


def _q_ivf_recall_report(spark, sf_dir):
    # the IVF sibling: recall@10 of the replayable-quantizer IVF path.
    return similarity.ann_recall_report(
        load_table(spark, sf_dir, "embeddings"),
        TOPK_QUERY_IDS,
        k=10,
        method="ivf",
    )


def _q_adc_recall_report(spark, sf_dir):
    # the PQ sibling: recall@10 of compressed-domain ADC search at m=16
    # (8-byte codes, 32x) — prices the compression in recall as a
    # driver-graded number instead of a pytest bound (SCALE.md quotes
    # 0.48 on the uniform-random fixture, PQ's documented worst case).
    return similarity.ann_recall_report(
        load_table(spark, sf_dir, "embeddings"),
        TOPK_QUERY_IDS,
        k=10,
        method="adc",
    )


def _q_ivfpq_recall_report(spark, sf_dir):
    # the composed IVF-PQ corner of the recall matrix: probe pruning +
    # ADC scoring, recall bounded by both quantizers.
    return similarity.ann_recall_report(
        load_table(spark, sf_dir, "embeddings"),
        TOPK_QUERY_IDS,
        k=10,
        method="ivfpq",
    )


def _q_cosine_topk_ivf(spark, sf_dir):
    return similarity.cosine_topk_ivf(
        load_table(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS, k=10
    )


def _q_class_centroids(spark, sf_dir):
    # as_string: the centroid rides as a comma-joined micro-int scalar so
    # every output column is hashable (array<double> is not).
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.class_centroids(
        emb, class_col=F.col("vec_id") % 10, as_string=True
    )


def _q_vector_norms(spark, sf_dir):
    return similarity.vector_norms(load_table(spark, sf_dir, "embeddings"))


def _q_quantize_int8(spark, sf_dir):
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


def _q_repetition_metrics(spark, sf_dir):
    return textan.repetition_metrics(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _q_blob_meta(spark, sf_dir):
    # Expression-side metadata (sha2/crc32 are built-ins): stays in
    # whole-stage codegen; the mapInPandas twin (blob_meta_pandas) is
    # pytest-pinned equal and carries the UDF-plumbing coverage.
    blobs = multimodal.attach_blob(load_table(spark, sf_dir, "documents"))
    return multimodal.blob_meta(blobs).select(
        "doc_id", "n_bytes", "sha256"
    )


def _q_blob_meta_pandas(spark, sf_dir):
    # The Arrow/mapInPandas twin of mm_blob_meta: same oracle, so the
    # UDF plumbing (batch shape, schema, Arrow transfer) gets a driver
    # hash row, not just the pytest pin against the JVM-side version.
    blobs = multimodal.attach_blob(load_table(spark, sf_dir, "documents"))
    return multimodal.blob_meta_pandas(blobs).select(
        "doc_id", "n_bytes", "sha256"
    )


def _q_frame_sample(spark, sf_dir):
    # Real encode→parse→decode round trip: synthesize MVID multi-frame
    # containers, walk the frame index, decode every 2nd frame's BMP.
    blobs = multimodal.synth_video_blobs(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.frame_sample(blobs, every_n=2)


def _q_top_terms(spark, sf_dir):
    return textan.top_terms_per_doc(load_table(spark, sf_dir, "documents"))


def _q_rare_token_ratio(spark, sf_dir):
    return textan.rare_token_ratio(load_table(spark, sf_dir, "documents"))


def _q_funnel(spark, sf_dir):
    return evan.funnel_counts(load_table(spark, sf_dir, "events"))


def _q_duplicate_spans(spark, sf_dir):
    return docdedup.duplicate_spans(
        load_table(spark, sf_dir, "documents"), span_tokens=10
    )


def _q_pack_chunks(spark, sf_dir):
    from k8stream_spark.analytics import splits

    with_counts = textan.token_count(load_table(spark, sf_dir, "documents"))
    return splits.pack_chunks(with_counts, capacity=2048)


def _q_pack_chunks_sharded(spark, sf_dir):
    from k8stream_spark.analytics import splits

    with_counts = textan.token_count(load_table(spark, sf_dir, "documents"))
    return splits.pack_chunks_sharded(with_counts, capacity=2048, n_shards=8)


def _q_dataset_split(spark, sf_dir):
    from k8stream_spark.analytics import splits

    return splits.dataset_split(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )


def _q_stratified_sample(spark, sf_dir):
    from k8stream_spark.analytics import splits

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return splits.stratified_sample(
        ev,
        class_col="event_type",
        rates={"view": 10, "click": 50},
        id_col="event_id",
    )


def _q_redact_pii(spark, sf_dir):
    # Inject deterministic PII (both engines build the identical seeded
    # text) so the redaction demonstrably fires on every row.
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return textan.redact_pii(seeded)


def _q_rolling_stats(spark, sf_dir):
    return evan.rolling_user_stats(load_table(spark, sf_dir, "events"))


def _q_dedup_clusters(spark, sf_dir):
    return docdedup.dedup_clusters(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_asof_last_purchase(spark, sf_dir):
    from k8stream_spark.analytics import asof

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof.asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=("purchase_value",),
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_value_asof").alias("last_purchase_value"),
    )


def _q_audio_features(spark, sf_dir):
    blobs = multimodal.synth_audio_blobs(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.audio_features(blobs)


def _q_image_decode(spark, sf_dir):
    blobs = multimodal.synth_image_blobs(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.decode_image(blobs)


def _latest_graded_round() -> dict[str, tuple[int, bool]]:
    """Newest driver-grading round per query name — and whether that
    newest grade was green — parsed from the committed
    ``CORRECTNESS_r*.json`` snapshots next to this file.

    Returns ``name -> (round, last_grade_was_green)``.  Green means the
    newest record has ``err is None`` and ``hash_match is True``; a
    ``no_oracle`` rows-only record, a failed hash, or a hard error all
    count as not-green so the rotation re-grades them first.  Names
    absent from every snapshot have never been graded and map to
    ``(0, False)``.  Any parse/read failure degrades to "never graded"
    for the affected file — the rotation then just preserves
    registration order, which is a safe static fallback.
    """
    import glob
    import json
    import os
    import re

    latest: dict[str, tuple[int, bool]] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            green = (
                isinstance(rec, dict)
                and rec.get("err") is None
                and rec.get("hash_match") is True
            )
            prev = latest.get(name, (0, False))
            if rnd >= prev[0]:
                latest[name] = (rnd, green)
    return latest


def _git_out(args: list[str]) -> str:
    """Run git in the repo root and return stdout; raises on any
    failure (callers degrade to 'cannot tell', never to a crash)."""
    import os
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    return subprocess.run(
        ["git", *args],
        cwd=here,
        capture_output=True,
        text=True,
        timeout=30,
        check=True,
    ).stdout


def _grade_treeish(rnd: int) -> str:
    """The tree the driver actually graded for round ``rnd``: the
    parent of the oldest commit touching ``CORRECTNESS_r{rnd}.json``
    (the driver grades the end-of-round snapshot commit, then commits
    the grade files on top of it).  If the two were ever squashed the
    parent is one commit too early — which only flags a query as
    changed when it changed in the graded round itself: the safe
    direction (an extra re-grade, never a missed one)."""
    first = _git_out(
        ["rev-list", "--reverse", "HEAD", "--", f"CORRECTNESS_r{rnd}.json"]
    ).split()[0]
    return first + "^"


def _fn_sources(text: str) -> dict[str, str]:
    """name -> exact source segment for every top-level function in a
    version of this file (AST-extracted, so surrounding-file churn —
    new oracles, new registrations — does not count as a change).

    Equal to ``ast.get_source_segment(text, node)`` per def, but the
    text is split into lines once, not once per def: a split per def
    is quadratic in the file size."""
    import ast
    import re

    # the parser's line rule: "\r\n", "\r" or "\n" ends a line, a form
    # feed does not; col offsets are UTF-8 byte offsets into one line
    lines = re.findall(r"[^\r\n]*(?:\r\n?|\n)|[^\r\n]+\Z", text)
    out: dict[str, str] = {}
    for n in ast.parse(text).body:
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        first = lines[n.lineno - 1].encode()
        if n.end_lineno == n.lineno:
            out[n.name] = first[n.col_offset : n.end_col_offset].decode()
            continue
        out[n.name] = (
            first[n.col_offset :].decode()
            + "".join(lines[n.lineno : n.end_lineno - 1])
            + lines[n.end_lineno - 1].encode()[: n.end_col_offset].decode()
        )
    return out


def _module_paths() -> dict[str, str]:
    """alias -> repo-relative path for every k8stream_spark module (or
    top-level-imported function's owning module) visible in this file's
    namespace.  Drives the 'owning module' attribution below."""
    import inspect
    import os
    import sys
    import types

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, str] = {}
    for alias, obj in list(globals().items()):
        mod = None
        if isinstance(obj, types.ModuleType) and obj.__name__.startswith(
            "k8stream_spark"
        ):
            mod = obj
        elif callable(obj) and getattr(obj, "__module__", "").startswith(
            "k8stream_spark"
        ):
            mod = sys.modules.get(obj.__module__)
        if mod is None:
            continue
        try:
            out[alias] = os.path.relpath(inspect.getfile(mod), here)
        except TypeError:
            continue
    return out


def _owned_paths(src: str, alias_paths: dict[str, str]) -> set[str]:
    """Repo-relative module files a query function's source depends on:
    top-level aliases it references plus in-function
    ``from k8stream_spark... import X`` targets."""
    import importlib
    import inspect
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    paths = {
        p
        for alias, p in alias_paths.items()
        if re.search(rf"\b{re.escape(alias)}\b", src)
    }
    # names restricted to the import's own line (a multi-line-greedy
    # class here once swallowed the function body and mis-attributed
    # every in-function import to the package __init__)
    for m in re.finditer(
        r"from\s+(k8stream_spark[\w.]*)\s+import\s+\(?([^\n)]+)", src
    ):
        pkg, names = m.group(1), m.group(2)
        for nm in names.split(","):
            nm = nm.strip().split(" as ")[0].strip()
            if not nm.isidentifier():
                continue
            try:
                mod = importlib.import_module(f"{pkg}.{nm}")
            except ModuleNotFoundError:
                mod = importlib.import_module(pkg)
            paths.add(os.path.relpath(inspect.getfile(mod), here))
    return paths


def _blobs_at(treeish: str, paths: set[str]) -> dict[str, str]:
    """path -> git blob sha at ``treeish`` (one batched ls-tree)."""
    out = _git_out(["ls-tree", "-r", treeish, "--", *sorted(paths)])
    res: dict[str, str] = {}
    for ln in out.splitlines():
        meta, path = ln.split("\t", 1)
        res[path] = meta.split()[2]
    return res


def _blob_now(relpath: str) -> str:
    """git-style blob sha1 of the WORKING-TREE file (pure hashlib — the
    current side must see uncommitted edits, which is the whole point)."""
    import hashlib
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, relpath), "rb") as fh:
        data = fh.read()
    h = hashlib.sha1(b"blob %d\x00" % len(data))
    h.update(data)
    return h.hexdigest()


def _entry_fn_closure(fn, cur_fns: dict[str, str]) -> list:
    """``fn`` plus every top-level function of THIS module it
    transitively references (``co_names`` walk) — so a change to a
    shared helper like ``_k8s_events`` flags every query built on it."""
    gl = globals()
    seen: dict[str, object] = {getattr(fn, "__name__", ""): fn}
    stack = [fn]
    while stack:
        f = stack.pop()
        code = getattr(f, "__code__", None)
        if code is None:
            continue
        for nm in code.co_names:
            if nm in seen or nm not in cur_fns:
                continue
            obj = gl.get(nm)
            if callable(obj) and getattr(obj, "__module__", "") == __name__:
                seen[nm] = obj
                stack.append(obj)
    return list(seen.values())


_STALE_CACHE: set[str] | None = None


def _changed_since_grade(reg: dict, graded: dict) -> set[str]:
    """Names whose newest GREEN grade predates a change to their code
    path, so a green-on-record query cannot ride a grade its current
    code never earned.

    A query is stale when, comparing HEAD's working tree against the
    tree its newest grade actually ran on (``_grade_treeish``):

    * its ``_q_`` function's source segment — or any entry-module
      helper it transitively calls — differs, or
    * the git blob of any ``k8stream_spark`` module file that function
      or one of those helpers references differs.

    Stale queries re-enter the red-first class in ``queries()`` and are
    re-graded the same round the change lands; the flag self-heals once
    the next grade records the new tree.  Any git/parse failure (or a
    function the AST can't see) degrades to 'unchanged' — the plain
    red-first rotation is the fallback, never a crash and never a
    rotation collapse to all-red."""
    global _STALE_CACHE
    if _STALE_CACHE is not None:
        return _STALE_CACHE
    import os

    stale: set[str] = set()
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "__spark_entry__.py"), encoding="utf-8") as fh:
            cur_fns = _fn_sources(fh.read())
        alias_paths = _module_paths()
        rounds = sorted(
            {
                rnd
                for n, (rnd, green) in graded.items()
                if green and rnd > 0 and n in reg
            }
        )
        closure_by_name = {
            name: _entry_fn_closure(fn, cur_fns)
            for name, fn in reg.items()
            if getattr(fn, "__name__", "") in cur_fns
        }
        # a query owns the modules of every entry helper it reaches
        # (``_k8s_events`` -> load_table), not just its own ``_q_`` body
        owned_by_name = {
            name: set().union(
                *(_owned_paths(cur_fns[f.__name__], alias_paths) for f in fns)
            )
            for name, fns in closure_by_name.items()
        }
        # every module file any query could own: top-level aliases PLUS
        # in-function import targets (the ls-tree batch must cover both,
        # or an uncovered path reads as 'changed' forever)
        all_paths = set(alias_paths.values()).union(*owned_by_name.values())
        old: dict[int, tuple[dict[str, str], dict[str, str]] | None] = {}
        blob_now: dict[str, str] = {}
        for rnd in rounds:
            try:
                treeish = _grade_treeish(rnd)
                old_fns = _fn_sources(
                    _git_out(["show", f"{treeish}:__spark_entry__.py"])
                )
                old_blobs = _blobs_at(treeish, all_paths)
                old[rnd] = (old_fns, old_blobs)
            except Exception:
                old[rnd] = None  # cannot tell for this round -> unchanged
        for name, fn in reg.items():
            rnd, green = graded.get(name, (0, False))
            if not green or rnd == 0 or old.get(rnd) is None:
                continue  # red/never-graded already re-grades first
            old_fns, old_blobs = old[rnd]
            if name not in closure_by_name:
                continue  # not a top-level def -> cannot track
            changed = False
            for f in closure_by_name[name]:
                if cur_fns.get(f.__name__) != old_fns.get(f.__name__):
                    changed = True
                    break
            if not changed:
                for p in owned_by_name[name]:
                    if p not in blob_now:
                        blob_now[p] = _blob_now(p)
                    if old_blobs.get(p) != blob_now[p]:
                        changed = True
                        break
            if changed:
                stale.add(name)
    except Exception:
        stale = set()
    _STALE_CACHE = stale
    return stale


def _q_pq_encode(spark, sf_dir):
    return similarity.pq_encode(load_table(spark, sf_dir, "embeddings"))


def _q_pq_adc_topk(spark, sf_dir):
    # m=16 (8-byte codes, 32x compression): the uniform-random fixture is
    # PQ's documented worst case — 4-dim subspaces keep recall ~0.5 there
    # where real clustered embeddings would need far fewer (SCALE.md).
    return similarity.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS, k=10, m=16
    )


def _q_gopher_quality(spark, sf_dir):
    return textan.gopher_quality_filters(load_table(spark, sf_dir, "documents"))


def _q_token_length_histogram(spark, sf_dir):
    return textan.token_length_histogram(load_table(spark, sf_dir, "documents"))


def _q_chunk_overlap(spark, sf_dir):
    return textan.chunk_overlap(load_table(spark, sf_dir, "documents"))


def _q_dsir_importance(spark, sf_dir):
    return textan.dsir_importance(load_table(spark, sf_dir, "documents"))


def _q_retention_cohorts(spark, sf_dir):
    return evan.retention_cohorts(load_table(spark, sf_dir, "events"))


def _q_shard_manifest(spark, sf_dir):
    from k8stream_spark.analytics import splits

    return splits.shard_manifest(load_table(spark, sf_dir, "documents"))


def _q_ivf_pq_topk(spark, sf_dir):
    # m=16 like emb_pq_adc_topk (the uniform-random worst case needs the
    # subspace count); IVF probe bounds the candidates to nprobe cells.
    return similarity.ivf_pq_topk(
        load_table(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS, k=10, m=16
    )


def _q_split_leakage(spark, sf_dir):
    from k8stream_spark.analytics import splits

    return splits.split_leakage(load_table(spark, sf_dir, "documents"))


def _q_incremental_exact_filter(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docdedup.incremental_exact_filter(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    ).select("doc_id", "source")


def _q_source_lang_cube(spark, sf_dir):
    return textan.source_lang_cube(load_table(spark, sf_dir, "documents"))


def _q_cluster_size_histogram(spark, sf_dir):
    return docdedup.cluster_size_histogram(
        load_table(spark, sf_dir, "documents")
    )


def _q_window_range_counts(spark, sf_dir):
    return evan.window_range_counts(load_table(spark, sf_dir, "events"))


def _q_salted_distinct_counts(spark, sf_dir):
    return evan.salted_distinct_counts(load_table(spark, sf_dir, "events"))


def _q_incremental_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docdedup.incremental_dedup(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    )


def _q_bm25_topk(spark, sf_dir):
    from k8stream_spark.analytics import retrieval

    return retrieval.bm25_topk(load_table(spark, sf_dir, "documents"))


def _q_hybrid_rrf(spark, sf_dir):
    from k8stream_spark.analytics import retrieval

    return retrieval.hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def _q_quality_classifier(spark, sf_dir):
    return textan.quality_classifier_score(
        load_table(spark, sf_dir, "documents")
    )


def _q_bpe_merge_pairs(spark, sf_dir):
    return textan.bpe_merge_pairs(load_table(spark, sf_dir, "documents"))


def _q_bpe_apply(spark, sf_dir):
    return textan.bpe_apply(load_table(spark, sf_dir, "documents"))


def _bpe_apply_oracle(n_merges: int = 8) -> str:
    """DuckDB replay of ``text.bpe_apply``: the N training rounds
    unrolled as CTE pairs (p{r} = weighted pair counts over the
    current vocab symbol strings, m{r} = the (count desc, pair asc)
    argmax, v{r} = one left-to-right ``replace``).  Every v/p CTE is
    AS MATERIALIZED — DuckDB inlines plain CTEs, and v{r} is
    referenced by both p{r+1} and v{r+1}, so inlining would recompute
    the whole chain 2^N times (the recursive-CTE materialization
    lesson).  A round whose vocab has no pairs left yields an empty
    m{r}; the coalesce makes that round's replace a no-op on an
    impossible chr(1) pattern, matching the Spark loop's early
    break."""
    parts = [
        """
            WITH w AS MATERIALIZED (
              SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS wf FROM (
                SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE text IS NOT NULL)
              GROUP BY tok
            ), v0 AS MATERIALIZED (
              SELECT word, wf,
                     array_to_string(
                       [substr(word, i, 1)
                        for i in range(1, len(word) + 1)],
                       chr(31)) AS s
              FROM w
            )"""
    ]
    # Separator-ANCHORED application, mirroring text.bpe_apply: the
    # pattern is chr(31)||A||chr(31)||B||chr(31) against a sep-wrapped
    # state string (a bare replace would also match where A is the
    # suffix of a longer symbol), iterated _BPE_MERGE_PASSES times
    # because the anchored match consumes the shared boundary
    # separator on back-to-back occurrence chains.
    n_passes = textan._BPE_MERGE_PASSES
    for r in range(1, n_merges + 1):
        pat = (
            f"(chr(31) || coalesce((SELECT pr FROM m{r}), chr(1)) "
            "|| chr(31))"
        )
        rep = (
            f"(chr(31) || coalesce(replace((SELECT pr FROM m{r}), "
            "chr(31), ''), '') || chr(31))"
        )
        expr = "(chr(31) || s || chr(31))"
        for _ in range(n_passes):
            expr = f"replace({expr}, {pat}, {rep})"
        parts.append(
            f""", p{r} AS MATERIALIZED (
              SELECT pr, CAST(SUM(wf) AS BIGINT) AS c FROM (
                SELECT wf, unnest(
                  CASE WHEN len(l) >= 2
                       THEN [l[i] || chr(31) || l[i+1]
                             for i in range(1, len(l))]
                       ELSE CAST([] AS VARCHAR[]) END) AS pr
                FROM (SELECT wf, string_split(s, chr(31)) AS l
                      FROM v{r - 1}))
              GROUP BY pr
            ), m{r} AS (
              SELECT pr FROM p{r} ORDER BY c DESC, pr ASC LIMIT 1
            ), v{r} AS MATERIALIZED (
              SELECT word, wf, substr(sw, 2, len(sw) - 2) AS s
              FROM (SELECT word, wf, {expr} AS sw FROM v{r - 1})
            )"""
        )
    parts.append(
        f""", ns AS (
              SELECT word,
                     CAST(len(string_split(s, chr(31))) AS BIGINT)
                       AS n_sym
              FROM v{n_merges}
            ), tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents WHERE text IS NOT NULL
            ), cnt AS (
              SELECT doc_id,
                     CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
                     CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
              FROM tok JOIN ns USING (word) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(cnt.n_ws_tokens, 0) AS BIGINT)
                     AS n_ws_tokens,
                   CAST(coalesce(cnt.n_bpe_tokens, 0) AS BIGINT)
                     AS n_bpe_tokens
            FROM documents d LEFT JOIN cnt USING (doc_id)"""
    )
    return "".join(parts)


def _q_bigram_lm_score(spark, sf_dir):
    return textan.bigram_lm_score(load_table(spark, sf_dir, "documents"))


def _q_random_projection(spark, sf_dir):
    return similarity.random_projection(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_knn_graph_mutual(spark, sf_dir):
    return similarity.knn_graph_mutual(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_knn_graph_mutual_lsh(spark, sf_dir):
    return similarity.knn_graph_mutual_lsh(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_semantic_clusters_knn(spark, sf_dir):
    return similarity.semantic_clusters_knn(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_semantic_clusters_lsh(spark, sf_dir):
    # The 100 TB path of the full cluster pipeline, itself hash-checked:
    # CC over the LSH-bucketed mutual k-NN graph (the swap the exact
    # variant's docstring promises).
    return similarity.semantic_clusters_knn_lsh(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_cms_token_counts(spark, sf_dir):
    return textan.cms_token_counts(load_table(spark, sf_dir, "documents"))


def _q_remove_duplicate_spans(spark, sf_dir):
    return docdedup.remove_duplicate_spans(
        load_table(spark, sf_dir, "documents")
    )


def _q_quality_yield_curve(spark, sf_dir):
    return textan.quality_yield_curve(load_table(spark, sf_dir, "documents"))


def _q_quality_yield_curve_approx(spark, sf_dir):
    return textan.quality_yield_curve_approx(
        load_table(spark, sf_dir, "documents")
    )


def _q_vocab_coverage(spark, sf_dir):
    return textan.vocab_coverage(load_table(spark, sf_dir, "documents"))


def _q_mean_center(spark, sf_dir):
    return similarity.mean_center(load_table(spark, sf_dir, "embeddings"))


def _q_curation_pipeline(spark, sf_dir):
    return docdedup.curation_pipeline(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


def _q_standardize(spark, sf_dir):
    return similarity.standardize(load_table(spark, sf_dir, "embeddings"))


def _q_anomaly_zscore(spark, sf_dir):
    return evan.anomaly_zscore(load_table(spark, sf_dir, "events"))


def _q_pca_covariance(spark, sf_dir):
    return similarity.pca_covariance(load_table(spark, sf_dir, "embeddings"))


def _q_pca_top_component(spark, sf_dir):
    return similarity.pca_top_component(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_pca_project(spark, sf_dir):
    return similarity.pca_project(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_pca_var_explained(spark, sf_dir):
    return similarity.pca_var_explained(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_pca_top2(spark, sf_dir):
    return similarity.pca_top2_components(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_pca_project2d(spark, sf_dir):
    return similarity.pca_project2d(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_mixture_plan(spark, sf_dir):
    from k8stream_spark.analytics import splits as splitsmod

    return splitsmod.mixture_plan(load_table(spark, sf_dir, "documents"))


def _q_maha_outliers(spark, sf_dir):
    return similarity.maha_outliers(
        load_table(spark, sf_dir, "embeddings")
    )


def _q_pca_by_label(spark, sf_dir):
    return similarity.pca_by_label(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_pca_project_by_label(spark, sf_dir):
    return similarity.pca_project_by_label(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def _q_snapshot_delta(spark, sf_dir):
    """Corpus snapshot diff over two deterministically derived versions
    of the documents table (no second table exists in the driver data):
    the OLD snapshot lacks doc_id % 7 == 3 (since added), carries a
    7-char-shorter text for doc_id % 5 == 0 (since edited), and the NEW
    snapshot dropped doc_id % 11 == 5 (since removed) — all three delta
    classes exercised.  The derivations repeat verbatim in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.expr("substring(text, 1, greatest(length(text) - 7, 0))"),
        ).otherwise(F.col("text")),
    )
    new = docs.filter(F.col("doc_id") % 11 != 5)
    return docdedup.snapshot_delta(old, new)


def _q_reembed_worklist(spark, sf_dir):
    """Same deterministic snapshot derivations as _q_snapshot_delta;
    embeddings (vec_id 0..n-1, a strict subset of doc ids at every SF)
    naturally leave a missing_embedding backfill tail."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.expr("substring(text, 1, greatest(length(text) - 7, 0))"),
        ).otherwise(F.col("text")),
    )
    new = docs.filter(F.col("doc_id") % 11 != 5)
    return docdedup.reembed_worklist(
        old, new, load_table(spark, sf_dir, "embeddings")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+M6 layer).

    ROTATION RULE (do not hand-order): the driver grades only the first
    ~50 registered entries per round, so the returned dict is sorted by
    the key ``(last_grade_was_green, grading age, registration order)``
    — entries whose NEWEST grade was not green (never graded, hash-red,
    no_oracle, or hard error) sort before everything green, then
    ascending by the newest round each name was graded in
    (``_latest_graded_round`` over the committed CORRECTNESS_r*.json
    files), registration order as the stable tiebreak.  A red row fixed
    now is therefore re-graded in the next grading round instead of
    waiting out the age queue.  With ~170 entries and a 50/round budget
    a green entry is re-graded at worst every ~4 rounds; red and newly
    added entries are graded the round they land.

    STALENESS RULE: a green entry whose code path changed since its
    newest grade (``_changed_since_grade``: the ``_q_`` function's AST
    source segment, any entry-module helper it transitively calls, or
    any owning ``k8stream_spark`` module's git blob differs between
    HEAD's working tree and the graded tree) is demoted into the
    never-graded class, so a behavior change is re-graded the round it
    lands instead of riding a stale green.  Degrades to the plain
    rotation on any git failure.
    """
    reg = {
        # Registration order only breaks ties within a grading-age class.
        "docs_eval_contamination": _q_eval_contamination,
        "docs_source_mix_stats": _q_source_mix,
        "docs_remove_boilerplate": _q_remove_boilerplate,
        "docs_semantic_dedup": _q_semantic_dedup,
        "docs_semantic_dedup_invariants": _q_semantic_dedup_invariants,
        "events_approx_distinct_bound": _q_approx_distinct_bound,
        "mm_blob_meta_pandas": _q_blob_meta_pandas,
        "docs_c4_quality_filters": _q_c4_quality_filters,
        "docs_temperature_sample": _q_temperature_sample,
        "docs_source_quota_cap": _q_source_quota_cap,
        "docs_cluster_keep_longest": _q_cluster_keep_longest,
        "docs_global_shuffle": _q_global_shuffle,
        "text_ngram_novelty": _q_ngram_novelty,
        "text_corpus_top_ngrams": _q_corpus_top_ngrams,
        "mm_resize_image": _q_resize_image,
        "docs_dedup_ngram_jaccard": _q_ngram_jaccard,
        "docs_dedup_simhash": _q_simhash,
        "emb_vector_norms": _q_vector_norms,
        "emb_cosine_topk": _q_cosine_topk,
        "emb_cosine_topk_lsh": _q_cosine_topk_lsh,
        "emb_ann_recall_report": _q_ann_recall_report,
        "emb_ivf_recall_report": _q_ivf_recall_report,
        "emb_adc_recall_report": _q_adc_recall_report,
        "emb_ivfpq_recall_report": _q_ivfpq_recall_report,
        "emb_cosine_topk_ivf": _q_cosine_topk_ivf,
        "emb_cosine_near_dup": _q_cosine_near_dup,
        "emb_cosine_near_dup_lsh": _q_cosine_near_dup_lsh,
        "mm_blob_meta": _q_blob_meta,
        "mm_frame_sample": _q_frame_sample,
        "mm_audio_features": _q_audio_features,
        "mm_image_decode": _q_image_decode,
        "docs_dedup_clusters": _q_dedup_clusters,
        "events_asof_last_purchase": _q_asof_last_purchase,
        "text_redact_pii": _q_redact_pii,
        "events_rolling_stats": _q_rolling_stats,
        "docs_dataset_split": _q_dataset_split,
        "events_stratified_sample": _q_stratified_sample,
        "docs_duplicate_spans": _q_duplicate_spans,
        "text_rare_token_ratio": _q_rare_token_ratio,
        "events_funnel": _q_funnel,
        "emb_class_centroids": _q_class_centroids,
        "text_top_terms": _q_top_terms,
        "text_repetition_metrics": _q_repetition_metrics,
        "emb_quantize_int8": _q_quantize_int8,
        "docs_pack_chunks": _q_pack_chunks,
        "docs_pack_chunks_sharded": _q_pack_chunks_sharded,
        "docs_gopher_quality": _q_gopher_quality,
        "docs_token_length_histogram": _q_token_length_histogram,
        "docs_chunk_overlap": _q_chunk_overlap,
        "docs_dsir_importance": _q_dsir_importance,
        "events_retention_cohorts": _q_retention_cohorts,
        "docs_shard_manifest": _q_shard_manifest,
        "emb_pq_encode": _q_pq_encode,
        "emb_pq_adc_topk": _q_pq_adc_topk,
        "docs_split_leakage": _q_split_leakage,
        "docs_quality_classifier": _q_quality_classifier,
        "emb_ivf_pq_topk": _q_ivf_pq_topk,
        "docs_bm25_topk": _q_bm25_topk,
        "docs_hybrid_rrf": _q_hybrid_rrf,
        "docs_dedup_incremental": _q_incremental_dedup,
        "docs_source_lang_cube": _q_source_lang_cube,
        "docs_dedup_incremental_exact": _q_incremental_exact_filter,
        "events_window_range_counts": _q_window_range_counts,
        "events_salted_distinct_counts": _q_salted_distinct_counts,
        "docs_cluster_size_histogram": _q_cluster_size_histogram,
        "text_bpe_merge_pairs": _q_bpe_merge_pairs,
        "text_bpe_apply": _q_bpe_apply,
        "text_bigram_lm_score": _q_bigram_lm_score,
        "emb_random_projection": _q_random_projection,
        "emb_knn_graph_mutual": _q_knn_graph_mutual,
        "emb_knn_graph_mutual_lsh": _q_knn_graph_mutual_lsh,
        "emb_semantic_clusters": _q_semantic_clusters_knn,
        "emb_semantic_clusters_lsh": _q_semantic_clusters_lsh,
        "text_cms_token_counts": _q_cms_token_counts,
        "docs_remove_duplicate_spans": _q_remove_duplicate_spans,
        "docs_quality_yield_curve": _q_quality_yield_curve,
        "docs_quality_yield_curve_approx": _q_quality_yield_curve_approx,
        "text_vocab_coverage": _q_vocab_coverage,
        "emb_mean_center": _q_mean_center,
        "docs_curation_pipeline": _q_curation_pipeline,
        "emb_standardize": _q_standardize,
        "events_anomaly_zscore": _q_anomaly_zscore,
        # r10 surface: PCA (covariance → power iteration → projection)
        # and the incremental-ingest snapshot delta
        "emb_pca_covariance": _q_pca_covariance,
        "emb_pca_top_component": _q_pca_top_component,
        "emb_pca_project": _q_pca_project,
        "emb_pca_var_explained": _q_pca_var_explained,
        "emb_pca_top2_components": _q_pca_top2,
        "emb_pca_project2d": _q_pca_project2d,
        "docs_mixture_plan": _q_mixture_plan,
        "emb_maha_outliers": _q_maha_outliers,
        "emb_pca_by_label": _q_pca_by_label,
        "emb_pca_project_by_label": _q_pca_project_by_label,
        "docs_snapshot_delta": _q_snapshot_delta,
        "docs_reembed_worklist": _q_reembed_worklist,
        # P — filters / projections (SURVEY §2.2)
        "p1_namespace_blacklist": _q_p1,
        "p2_namespace_whitelist": _q_p2,
        "p3_reason_whitelist": _q_p3,
        "p4_drop_default_service": _q_p4,
        "p5_eligibility": _q_p5,
        "p6_l9event_projection": _q_p6,
        "p7_mini_pod_info": _q_p7,
        "p8_dynamic_object_decode": _q_p8,
        "p9_label_extraction": _q_p9,
        "p10_service_event_synthesis": _q_p10,
        "u1_union_streams": _q_u1,
        # F — scalar functions (SURVEY §2.3)
        "f1_lower": _q_f1,
        "f2_cache_key": _q_f2,
        "f3_strip_prefix": _q_f3,
        "f5_epoch_seconds": _q_f5,
        "f7_json_extract": _q_f7,
        "f8_lexicographic_gte": _q_f8,
        # D — dedup (SURVEY §2.7)
        "d1_dedup_first_seen": _q_d1,
        "d2_keep_latest_version": _q_d2,
        # J/A — joins + aggregation (SURVEY §2.4/2.5)
        "j1_enrich_involved_object": _q_j1,
        "j2_node_addresses": _q_j2,
        "j3_conditional_pod_enrich": _q_j3,
        "j4_label_selector_join": _q_j4,
        "j5_pod_service_reverse_index": _q_j5,
        "j6_service_deployments": _q_j6,
        "a1_service_pod_map": _q_a1,
        "a1_service_pod_map_sharded": _q_a1_sharded,
        # OLAP analytics layer (SURVEY §7.2 M6)
        "q1_pricing_summary": _q_q1,
        "q3_shipping_priority": _q_q3,
        "q5_local_supplier_volume": _q_q5,
        "q6_forecast_revenue": _q_q6,
        "q14_promo_revenue": _q_q14,
        "q4_order_priority_check": _q_q4,
        "q10_returned_items": _q_q10,
        "q12_priority_by_flag": _q_q12,
        "q13_customer_distribution": _q_q13,
        "q15_top_supplier": _q_q15,
        "q17_small_quantity_revenue": _q_q17,
        "q19_discounted_revenue": _q_q19,
        "q18_large_volume_customers": _q_q18,
        "q22_global_sales_opportunity": _q_q22,
        "q2_min_cost_supplier": _q_q2,
        "q11_important_part_value": _q_q11,
        "q16_supplier_count": _q_q16,
        "q20_excess_suppliers": _q_q20,
        "q21_waiting_suppliers": _q_q21,
        "q7_volume_shipping": _q_q7,
        "q8_market_share": _q_q8,
        "q9_product_type_profit": _q_q9,
        "window_top_orders_per_customer": _q_window_top,
        "rollup_order_priority": _q_rollup,
        "agg_customer_order_stats": _q_cust_stats,
        "events_hourly_type_counts": _q_hourly,
        "events_sessionize": _q_sessionize,
        "events_session_window": _q_session_window,
        "events_value_quantiles": _q_value_quantiles,
        "events_value_quantiles_sketch": _q_value_quantiles_sketch,
        "events_approx_user_counts": _q_approx_users,
        "events_user_type_matrix": _q_user_matrix,
        # LLM-data-pipeline layer
        "text_token_count": _q_token_count,
        "text_term_stats": _q_term_stats,
        "text_lang_id": _q_lang_id,
        "text_quality_score": _q_quality,
        "text_fingerprint": _q_fingerprint,
        "text_bpe_token_count": _q_bpe_token_count,
        "text_rolling_fingerprint": _q_rolling_fingerprint,
        "docs_dedup_exact": _q_dedup_exact,
        "docs_dedup_canonical": _q_dedup_canonical,
        "docs_dedup_minhash_lsh": _q_minhash_lsh,
        "docs_minhash_recall_report": _q_minhash_recall,
        "docs_containment_pairs": _q_containment_pairs,
        "docs_containment_dedup": _q_containment_dedup,
        "docs_containment_roots": _q_containment_roots,
    }
    graded = _latest_graded_round()
    stale = _changed_since_grade(reg, graded)
    order = {name: i for i, name in enumerate(reg)}
    def _key(n):
        rnd, green = graded.get(n, (0, False))
        if n in stale:
            # code path changed since its newest green grade: sort it
            # with the never-graded entries
            rnd, green = 0, False
        return (green, rnd, order[n])
    return {name: reg[name] for name in sorted(reg, key=_key)}


#: Power-iteration steps for the PCA queries — must match the default
#: in similarity.pca_top_component / pca_project.
_PCA_STEPS = 8


def _pca_oracle(final: str, steps: int = _PCA_STEPS) -> str:
    """Unrolled-CTE replay of similarity.pca_covariance +
    _pca_power_iterate: decimal-sum covariance in micro ints, then
    ``steps`` rounds of integer-exact matrix-vector multiply and
    floor(x+0.5) normalization.  Every op is exact int64 arithmetic or
    a single correctly-rounded IEEE step, so DuckDB reproduces the
    driver-side Python loop bit-for-bit (see _pca_power_iterate's
    docstring for the bounds argument).

    The chain CTEs are AS MATERIALIZED: each v_k references w_k twice
    (directly and through n_k), so DuckDB's default CTE inlining
    expands the plan 2^steps-fold — 50 s at sf0.01 vs 0.3 s
    materialized (measured r10)."""
    parts = [
        """ex AS (
          SELECT vec_id, i.i - 1 AS d, CAST(embedding[i.i] AS DOUBLE) AS x
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
        )""",
        """pairs AS (
          SELECT a.d AS i, b.d AS j, a.x AS xi, b.x AS xj
          FROM ex a JOIN ex b USING (vec_id)
        )""",
        """g AS (
          SELECT i, j,
            ROUND(CAST(SUM(CAST(xi * xj AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*), 6) AS e,
            ROUND(CAST(SUM(CAST(xi AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*), 6) AS mi,
            ROUND(CAST(SUM(CAST(xj AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*), 6) AS mj
          FROM pairs GROUP BY i, j
        )""",
        """cov AS MATERIALIZED (
          SELECT i, j,
                 CAST(ROUND(1000000.0 * ROUND(e - mi * mj, 6)) AS BIGINT)
                   AS c
          FROM g
        )""",
        """v0 AS (
          SELECT dd.d, CAST(FLOOR(1000000.0 / sqrt(64) + 0.5) AS BIGINT)
                   AS v
          FROM (SELECT unnest(generate_series(0, 63)) AS d) dd
        )""",
    ]
    parts.extend(_pca_iter_ctes("cov", "", steps))
    return "WITH " + ",\n".join(parts) + "\n" + final


def _pca_iter_ctes(cov_name: str, pfx: str, steps: int) -> list[str]:
    """The power-iteration CTE loop over covariance table ``cov_name``
    with CTE names ``{pfx}w{k}`` / ``{pfx}n{k}`` / ``{pfx}v{k}``
    (stage 1 uses the legacy unprefixed names; the deflated stage-2
    chain of emb_pca_top2_components uses pfx='t2' over cov2)."""
    parts = []
    prev = f"{pfx}v0" if pfx else "v0"
    if pfx:
        parts.append(
            f"""{pfx}v0 AS (
          SELECT dd.d, CAST(FLOOR(1000000.0 / sqrt(64) + 0.5) AS BIGINT)
                   AS v
          FROM (SELECT unnest(generate_series(0, 63)) AS d) dd
        )"""
        )
    for k in range(1, steps + 1):
        parts.append(
            f"""{pfx}w{k} AS MATERIALIZED (
          SELECT {cov_name}.i AS d,
                 CAST(FLOOR((SUM({cov_name}.c * {prev}.v) + 500000)
                            / 1000000.0) AS BIGINT) AS w
          FROM {cov_name} JOIN {prev} ON {cov_name}.j = {prev}.d
          GROUP BY {cov_name}.i
        )"""
        )
        parts.append(
            f"""{pfx}n{k} AS MATERIALIZED (
          SELECT CAST(SUM(w * w) AS DOUBLE) AS norm2 FROM {pfx}w{k}
        )"""
        )
        parts.append(
            f"""{pfx}v{k} AS MATERIALIZED (
          SELECT d, CASE WHEN norm2 > 0
                         THEN CAST(FLOOR(1000000.0 * w / sqrt(norm2)
                                         + 0.5) AS BIGINT)
                         ELSE 0 END AS v
          FROM {pfx}w{k}, {pfx}n{k}
        )"""
        )
        prev = f"{pfx}v{k}"
    return parts


def _pca_label_oracle(steps: int = _PCA_STEPS) -> str:
    """Label-keyed replay of similarity.pca_by_label: the covariance
    chain of _pca_oracle with every CTE additionally keyed by label,
    the iteration joining on (label, d)."""
    parts = [
        """ex AS (
          SELECT vec_id, CAST(label AS BIGINT) AS lbl, i.i - 1 AS d,
                 CAST(embedding[i.i] AS DOUBLE) AS x
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
        )""",
        """pairs AS (
          SELECT a.lbl, a.d AS i, b.d AS j, a.x AS xi, b.x AS xj
          FROM ex a JOIN ex b USING (vec_id)
        )""",
        """g AS (
          SELECT lbl, i, j,
            ROUND(CAST(SUM(CAST(xi * xj AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*), 6) AS e,
            ROUND(CAST(SUM(CAST(xi AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*), 6) AS mi,
            ROUND(CAST(SUM(CAST(xj AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*), 6) AS mj
          FROM pairs GROUP BY lbl, i, j
        )""",
        """cov AS MATERIALIZED (
          SELECT lbl, i, j,
                 CAST(ROUND(1000000.0 * ROUND(e - mi * mj, 6)) AS BIGINT)
                   AS c
          FROM g
        )""",
        """v0 AS (
          SELECT ls.lbl, dd.d,
                 CAST(FLOOR(1000000.0 / sqrt(64) + 0.5) AS BIGINT) AS v
          FROM (SELECT DISTINCT lbl FROM ex) ls,
               (SELECT unnest(generate_series(0, 63)) AS d) dd
        )""",
    ]
    prev = "v0"
    for k in range(1, steps + 1):
        parts.append(
            f"""w{k} AS MATERIALIZED (
          SELECT cov.lbl, cov.i AS d,
                 CAST(FLOOR((SUM(cov.c * {prev}.v) + 500000)
                            / 1000000.0) AS BIGINT) AS w
          FROM cov JOIN {prev}
            ON cov.lbl = {prev}.lbl AND cov.j = {prev}.d
          GROUP BY cov.lbl, cov.i
        )"""
        )
        parts.append(
            f"""n{k} AS MATERIALIZED (
          SELECT lbl, CAST(SUM(w * w) AS DOUBLE) AS norm2
          FROM w{k} GROUP BY lbl
        )"""
        )
        parts.append(
            f"""v{k} AS MATERIALIZED (
          SELECT w{k}.lbl, d,
                 CASE WHEN norm2 > 0
                      THEN CAST(FLOOR(1000000.0 * w / sqrt(norm2)
                                      + 0.5) AS BIGINT)
                      ELSE 0 END AS v
          FROM w{k} JOIN n{k} ON w{k}.lbl = n{k}.lbl
        )"""
        )
        prev = f"v{k}"
    final = f"""SELECT v{steps}.lbl AS label, v{steps}.d AS d,
                   v{steps}.v AS v_micro,
                   CASE WHEN n{steps}.norm2 > 0
                        THEN CAST(FLOOR(sqrt(n{steps}.norm2) + 0.5)
                                  AS BIGINT)
                        ELSE 0 END AS lambda_micro
            FROM v{steps} JOIN n{steps} ON v{steps}.lbl = n{steps}.lbl"""
    return "WITH " + ",\n".join(parts) + "\n" + final


def _pca_label_oracle_project(steps: int = _PCA_STEPS) -> str:
    """pca_project_by_label replay: the label-keyed chain WITHOUT its
    final select, plus per-label means and the per-vector grouped
    decimal score on the own-class component."""
    chain = _pca_label_oracle(steps)
    head, _final = chain.rsplit("SELECT", 1)
    return (
        head
        + f""", m AS (
          SELECT lbl, d,
                 ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*), 6) AS m
          FROM ex GROUP BY lbl, d
        )
        SELECT ex.vec_id, ex.lbl AS label,
               CAST(ROUND(1000000.0 * CAST(SUM(CAST(
                      (ex.x - m.m) * (v{steps}.v / 1000000.0)
                    AS DECIMAL(28,12))) AS DOUBLE)) AS BIGINT)
                 AS score_micro
        FROM ex
        JOIN m ON m.lbl = ex.lbl AND m.d = ex.d
        JOIN v{steps} ON v{steps}.lbl = ex.lbl AND v{steps}.d = ex.d
        GROUP BY ex.vec_id, ex.lbl"""
    )


_PCA_TOP2_TAIL = (
    """, lam1 AS MATERIALIZED (
              SELECT CASE WHEN norm2 > 0
                          THEN CAST(FLOOR(sqrt(norm2) + 0.5) AS BIGINT)
                          ELSE 0 END AS l
              FROM n8
            ),
            defl AS MATERIALIZED (
              SELECT cov.i, cov.j, cov.c,
                     CAST(lam1.l AS HUGEINT) * a.v * b.v AS p
              FROM cov
              JOIN v8 a ON a.d = cov.i
              JOIN v8 b ON b.d = cov.j, lam1
            ),
            cov2 AS MATERIALIZED (
              SELECT i, j,
                     CAST(c - (CASE WHEN p >= 0
                                    THEN (p + 500000000000)
                                         // 1000000000000
                                    ELSE -((-p + 500000000000)
                                           // 1000000000000)
                               END) AS BIGINT) AS c
              FROM defl
            ),
            """
    + ",\n".join(_pca_iter_ctes("cov2", "t2", _PCA_STEPS))
    + """
            SELECT CAST(1 AS BIGINT) AS component, v8.d AS d,
                   v8.v AS v_micro, lam1.l AS lambda_micro
            FROM v8, lam1
            UNION ALL
            SELECT CAST(2 AS BIGINT), t2v8.d, t2v8.v,
                   CASE WHEN t2n8.norm2 > 0
                        THEN CAST(FLOOR(sqrt(t2n8.norm2) + 0.5)
                                  AS BIGINT)
                        ELSE 0 END
            FROM t2v8, t2n8"""
)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query — every registered query has
    one.  The approximate pipelines are hash-checked end to end where
    the engine decisions are integer-exact: emb_cosine_topk_lsh /
    emb_cosine_near_dup_lsh (_LSH_CTE), docs_dedup_simhash (sha256
    token hash), emb_cosine_topk_ivf (_ivf_oracle_sql replays quantizer
    training, assignment, probing and rerank bit-for-bit), the recall
    reports (emb_ann/_ivf/_adc and docs_minhash_recall_report — BOTH
    sides replayed, so the recall numbers themselves hash-check),
    docs_semantic_dedup (the integer quantizer — cells, kept flags and
    dup_of pointers replay via _semantic_dedup_oracle_sql) and
    events_approx_user_counts (the replayable HLL — the estimate itself
    replays via _hll_oracle_sql; Spark's HLL++ stays covered through
    events_approx_distinct_bound's 3×rsd contract)."""
    # Exact scaled-integer money sums, mirroring tpch._scaled_total /
    # exact_sum / exact_avg EXPRESSION-FOR-EXPRESSION: per row both
    # engines evaluate the same IEEE doubles (x*1e8+0.5, /2^23 exact,
    # floor), sum the identical hi/lo longs (DuckDB SUM(bigint)→HUGEINT,
    # exact), round half-away-from-zero in integer space, and make ONE
    # deterministic conversion to double.  Rounding a double sum instead
    # diverges between engines on cent boundaries.
    def _tot(expr: str) -> str:
        vp = f"(({expr})*100000000.0+0.5)"
        hi = f"CAST(FLOOR({vp}/8388608.0) AS BIGINT)"
        lo = f"(CAST(FLOOR({vp}) AS BIGINT) - {hi}*8388608)"
        return f"(SUM({hi})*8388608 + SUM({lo}))"

    exact_sum = lambda expr, scale=2: (  # noqa: E731
        f"(CAST(ROUND(CAST({_tot(expr)} AS DECIMAL(38,0)), {scale - 8}) "
        f"AS DOUBLE)/100000000.0)"
    )
    exact_avg = lambda expr, scale=4: (  # noqa: E731
        f"((CASE WHEN {_tot(expr)} < 0 THEN -1 ELSE 1 END)"
        f" * ((2*ABS({_tot(expr)}) + COUNT(*)*{10 ** (8 - scale)})"
        f" // (2*COUNT(*)*{10 ** (8 - scale)}))"
        f" / {float(10 ** scale)!r})"
    )
    return {
        "p1_namespace_blacklist": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT * FROM k WHERE namespace NOT IN ('ns-0','ns-1','ns-2')
        """,
        "p2_namespace_whitelist": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT * FROM k WHERE namespace IN ('ns-3','ns-4','ns-5')
        """,
        "p3_reason_whitelist": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT * FROM k WHERE reason IN ('click','purchase')
        """,
        "p4_drop_default_service": f"""
            WITH s AS ({SERVICES_CTE})
            SELECT uid, name, namespace, resource_version, event_type
            FROM s WHERE name != 'kubernetes'
        """,
        "p5_eligibility": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT * FROM k
            WHERE namespace NOT IN ('ns-0','ns-1','ns-2')
              AND reason IN ('click','view','purchase')
        """,
        "p6_l9event_projection": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT uid AS id,
                   CAST(floor(epoch(creation_ts)) AS BIGINT) AS "timestamp",
                   source_component AS component,
                   source_host AS host,
                   message, namespace, reason,
                   ref_uid AS reference_uid,
                   ref_namespace AS reference_namespace,
                   ref_name AS reference_name,
                   ref_kind AS reference_kind,
                   ref_api_version AS reference_version,
                   '{L9_VERSION}' AS version
            FROM k
        """,
        "p7_mini_pod_info": """
            SELECT CAST(o_orderkey AS VARCHAR) AS pod_uid,
                   'pod-'||CAST(o_orderkey AS VARCHAR) AS pod_name,
                   'ns-'||CAST(o_custkey%10 AS VARCHAR) AS pod_namespace,
                   o_orderdate AS pod_start_time,
                   '10.1.'||CAST(o_orderkey%250 AS VARCHAR)||'.2' AS pod_ip,
                   '192.168.1.'||CAST(o_orderkey%250 AS VARCHAR) AS pod_host_ip
            FROM orders
        """,
        "p8_dynamic_object_decode": """
            SELECT event_id,
                   CASE WHEN event_id%97=0 THEN NULL
                        ELSE CAST(json_extract_string(props,'$.k') AS BIGINT)
                   END AS k,
                   (event_id%97<>0) AS decoded_ok
            FROM events
        """,
        "p9_label_extraction": f"""
            WITH k AS ({K8S_EVENTS_CTE}), o AS ({OBJECTS_CTE})
            SELECT k.uid,
                   o.segment AS segment_label,
                   CASE WHEN o.uid IS NOT NULL THEN CAST(0 AS BIGINT) END
                       AS n_annotations
            FROM k LEFT JOIN o ON k.ref_uid = o.uid
        """,
        "p10_service_event_synthesis": f"""
            WITH s AS ({SERVICES_CTE})
            SELECT uid||'-'||resource_version AS id,
                   'k8stream' AS component,
                   '' AS host,
                   event_type AS message,
                   namespace,
                   event_type AS reason,
                   uid AS reference_uid,
                   namespace AS reference_namespace,
                   name AS reference_name,
                   'Service' AS reference_kind,
                   resource_version AS reference_version,
                   '{L9_VERSION}' AS version
            FROM s
        """,
        "u1_union_streams": f"""
            WITH k AS ({K8S_EVENTS_CTE}), s AS ({SERVICES_CTE})
            SELECT uid AS id,
                   CAST(floor(epoch(creation_ts)) AS BIGINT) AS "timestamp",
                   source_component AS component, source_host AS host,
                   message, namespace, reason,
                   ref_uid AS reference_uid, ref_namespace AS reference_namespace,
                   ref_name AS reference_name, ref_kind AS reference_kind,
                   ref_api_version AS reference_version, '{L9_VERSION}' AS version
            FROM k
            UNION ALL
            SELECT uid||'-'||resource_version AS id,
                   CAST(NULL AS BIGINT) AS "timestamp",
                   'k8stream' AS component, '' AS host,
                   event_type AS message, namespace, event_type AS reason,
                   uid AS reference_uid, namespace AS reference_namespace,
                   name AS reference_name, 'Service' AS reference_kind,
                   resource_version AS reference_version, '{L9_VERSION}' AS version
            FROM s
        """,
        "f1_lower": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT uid, lower(ref_kind) AS kind_lower FROM k
        """,
        "f2_cache_key": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT uid, 'events-'||uid AS cache_key FROM k
        """,
        "f3_strip_prefix": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT uid, 'events-'||uid AS ck,
                   regexp_replace('events-'||uid, '^events-', '') AS stripped
            FROM k
        """,
        "f5_epoch_seconds": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT uid, CAST(floor(epoch(creation_ts)) AS BIGINT) AS epoch_s
            FROM k
        """,
        "f7_json_extract": """
            SELECT event_id, event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "f8_lexicographic_gte": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT uid, uid >= '500' AS is_gte FROM k
        """,
        "d1_dedup_first_seen": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT * FROM k
            QUALIFY row_number() OVER (
              PARTITION BY ref_uid, reason ORDER BY creation_ts, uid) = 1
        """,
        "d2_keep_latest_version": f"""
            WITH k AS ({K8S_EVENTS_CTE})
            SELECT ref_uid, uid AS version, reason FROM k
            QUALIFY row_number() OVER (
              PARTITION BY ref_uid ORDER BY uid DESC) = 1
        """,
        "j1_enrich_involved_object": f"""
            WITH k AS ({K8S_EVENTS_CTE}), o AS ({OBJECTS_CTE})
            SELECT k.uid, k.ref_uid,
                   o.uid AS obj_uid, o.name AS obj_name, o.kind AS obj_kind
            FROM k LEFT JOIN o ON k.ref_uid = o.uid
        """,
        "j2_node_addresses": f"""
            WITH k AS ({K8S_EVENTS_CTE}), n AS ({NODES_CTE})
            SELECT k.uid, k.source_host,
                   COALESCE(array_to_string(n.addresses, ','), '') AS address_csv
            FROM k LEFT JOIN n ON k.source_host = n.name
        """,
        "j3_conditional_pod_enrich": f"""
            WITH k AS ({K8S_EVENTS_CTE}), o AS ({OBJECTS_CTE})
            SELECT k.uid, o.kind AS obj_kind,
                   CASE WHEN o.kind='Pod' THEN o.uid END AS pod_uid,
                   CASE WHEN o.kind='Pod' THEN o.name END AS pod_name,
                   CASE WHEN o.kind='Pod' THEN o.pod_ip END AS pod_ip
            FROM k LEFT JOIN o ON k.ref_uid = o.uid
        """,
        "j4_label_selector_join": PAIRS_CTE
        + """
            SELECT CAST(sk AS VARCHAR) AS service_uid,
                   COUNT(*) AS n_pods, MIN(pk) AS min_pod, MAX(pk) AS max_pod
            FROM pairs GROUP BY sk
        """,
        "j5_pod_service_reverse_index": PAIRS_CTE
        + """
            SELECT pk AS pod_uid, COUNT(*) AS n_services,
                   MIN(CAST(sk AS VARCHAR)) AS first_service
            FROM pairs GROUP BY pk
        """,
        "j6_service_deployments": """
            WITH svc AS (
              SELECT c_custkey, c_mktsegment,
                     (c_custkey%10=0) AS match_all,
                     (c_custkey%2=0) AS even
              FROM customer WHERE c_custkey < 100
            ), dep AS (
              SELECT p_partkey,
                     (['MACHINERY','BUILDING','AUTOMOBILE','HOUSEHOLD','FURNITURE'])[CAST(p_partkey%5 AS INT)+1] AS seg,
                     CASE WHEN p_partkey%3=0 THEN '1-URGENT' ELSE '3-MEDIUM' END AS pri
              FROM part
            ), pairs AS (
              SELECT s.c_custkey AS sk, d.p_partkey AS dk
              FROM svc s JOIN dep d
                ON s.match_all OR (s.c_mktsegment = d.seg AND (s.even OR d.pri='1-URGENT'))
            )
            SELECT CAST(sk AS VARCHAR) AS service_uid,
                   COUNT(*) AS n_deploys,
                   MIN(dk) AS min_deploy, MAX(dk) AS max_deploy
            FROM pairs GROUP BY sk
        """,
        "a1_service_pod_map": PAIRS_CTE
        + """
            SELECT CAST(sk AS VARCHAR) AS service_uid,
                   COUNT(*) AS n_pods,
                   MIN('pod-'||CAST(pk AS VARCHAR)) AS first_pod
            FROM pairs GROUP BY sk
        """,
        # Mirrors joins.service_pod_map_sharded (r14 pre-sharded rank):
        # pods hash into _POD_MAP_PRESHARDS pre-shards (60-bit sha256
        # prefix of the name), rank by name WITHIN (service, pre-shard),
        # global position = exclusive prefix count of lower pre-shards +
        # local rank, shard at 1000 entries (all values >= 0, so
        # DuckDB's truncating // equals floor).
        "a1_service_pod_map_sharded": PAIRS_CTE
        + f"""
            , pre AS (
              SELECT sk, 'pod-'||CAST(pk AS VARCHAR) AS pn,
                     CAST(CAST('0x'||substr(
                         sha256('pod-'||CAST(pk AS VARCHAR)), 1, 15)
                       AS UBIGINT) % {joins._POD_MAP_PRESHARDS}
                       AS BIGINT) AS ps
              FROM pairs
            ), lcl AS (
              SELECT sk, pn, ps,
                     row_number() OVER (
                       PARTITION BY sk, ps ORDER BY pn) - 1 AS rnl
              FROM pre
            ), offs AS (
              SELECT sk, ps,
                     COALESCE(SUM(cnt) OVER (
                       PARTITION BY sk ORDER BY ps
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS off
              FROM (SELECT sk, ps, COUNT(*) AS cnt
                    FROM pre GROUP BY sk, ps)
            ), ranked AS MATERIALIZED (
              SELECT l.sk, l.pn, (l.rnl + o.off) // 1000 AS shard
              FROM lcl l JOIN offs o ON o.sk = l.sk AND o.ps = l.ps
            )
            SELECT CAST(sk AS VARCHAR) AS service_uid,
                   CAST(shard AS BIGINT) AS shard_id,
                   COUNT(*) AS n_pods,
                   MIN(pn) AS first_pod
            FROM ranked GROUP BY sk, shard
        """,
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   {exact_sum('l_quantity')} AS sum_qty,
                   {exact_sum('l_extendedprice')} AS sum_base_price,
                   {exact_sum('l_extendedprice*(1-l_discount)')} AS sum_disc_price,
                   {exact_sum('l_extendedprice*(1-l_discount)*(1+l_tax)')} AS sum_charge,
                   {exact_avg('l_quantity')} AS avg_qty,
                   {exact_avg('l_extendedprice')} AS avg_price,
                   {exact_avg('l_discount')} AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": f"""
            SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
                   {exact_sum('l.l_extendedprice*(1-l.l_discount)')} AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue DESC, o.o_orderkey ASC
            LIMIT 10
        """,
        "q5_local_supplier_volume": f"""
            SELECT n.n_name,
                   {exact_sum('l.l_extendedprice*(1-l.l_discount)')} AS revenue
            FROM region r
            JOIN nation n ON n.n_regionkey = r.r_regionkey
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = c.c_nationkey
            WHERE r.r_name = 'ASIA'
            GROUP BY n.n_name
        """,
        "q6_forecast_revenue": f"""
            SELECT {exact_sum('l_extendedprice*l_discount')} AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q14_promo_revenue": """
            SELECT ROUND(100.0 * (
                     CAST(SUM(CAST(CASE WHEN p.p_type='ECONOMY'
                                        THEN l.l_extendedprice*(1-l.l_discount)
                                        ELSE 0.0 END AS DECIMAL(30,8))) AS DOUBLE)
                     / CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount)
                                     AS DECIMAL(30,8))) AS DOUBLE)), 4)
                   AS promo_revenue_pct
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1996-04-01'
        """,
        "q4_order_priority_check": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate <  TIMESTAMP '1996-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > TIMESTAMP '1996-01-01'
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q10_returned_items": f"""
            SELECT c_custkey, c_name, revenue, c_acctbal, n_name, rank FROM (
              SELECT c_custkey, c_name, revenue, c_acctbal, n_name,
                     row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
              FROM (
                SELECT c.c_custkey, c.c_name,
                       {exact_sum('l.l_extendedprice*(1-l.l_discount)')} AS revenue,
                       c.c_acctbal, n.n_name
                FROM orders o
                JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                JOIN customer c ON c.c_custkey = o.o_custkey
                JOIN nation n ON n.n_nationkey = c.c_nationkey
                WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
                  AND l.l_returnflag = 'R'
                GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name))
            WHERE rank <= 20
        """,
        "q18_large_volume_customers": f"""
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   sum_qty, rank FROM (
              SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                     o.o_totalprice, big.sum_qty,
                     row_number() OVER (ORDER BY o.o_totalprice DESC,
                                        o.o_orderkey) AS rank
              FROM (SELECT l_orderkey,
                           {exact_sum('l_quantity')} AS sum_qty
                    FROM lineitem GROUP BY l_orderkey
                    HAVING {exact_sum('l_quantity')} > 250) big
              JOIN orders o ON o.o_orderkey = big.l_orderkey
              JOIN customer c ON c.c_custkey = o.o_custkey)
            WHERE rank <= 100
        """,
        "q12_priority_by_flag": """
            SELECT l.l_returnflag,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN
                            ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
                        AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN
                            ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
                        AS BIGINT) AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l.l_returnflag
        """,
        "q13_customer_distribution": """
            SELECT c_count, COUNT(*) AS custdist FROM (
              SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
              FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey)
            GROUP BY c_count
        """,
        "q15_top_supplier": f"""
            WITH rev AS (
              SELECT l_suppkey,
                     {exact_sum('l_extendedprice*(1-l_discount)')}
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, r.total_revenue
            FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
            WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        # Exact-decimal means on both sides (q17's per-part quantity
        # limit, q22's balance cutoff): a double-sum average differs in
        # the last ulp across engines and a boundary row would flip.
        "q17_small_quantity_revenue": """
            WITH li AS (
              SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_brand = 'Brand#1'),
            lim AS (
              SELECT l_partkey,
                     0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(30,8)))
                                 AS DOUBLE) / COUNT(*)) AS qty_limit
              FROM li GROUP BY l_partkey)
            SELECT ROUND(CAST(SUM(CAST(li.l_extendedprice
                                       AS DECIMAL(30,8))) AS DOUBLE)
                         / 7.0, 2) AS avg_yearly
            FROM li JOIN lim ON li.l_partkey = lim.l_partkey
            WHERE li.l_quantity < lim.qty_limit
        """,
        "q19_discounted_revenue": f"""
            SELECT {exact_sum('l.l_extendedprice*(1-l.l_discount)')}
                     AS revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "q22_global_sales_opportunity": f"""
            WITH avg_bal AS (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
                     / COUNT(*) AS ab
              FROM customer WHERE c_acctbal > 0),
            rich AS (
              SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
              FROM customer c, avg_bal WHERE c.c_acctbal > avg_bal.ab)
            SELECT r.c_nationkey,
                   COUNT(*) AS numcust,
                   {exact_sum('r.c_acctbal')} AS totacctbal
            FROM rich r
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = r.c_custkey
                                AND o.o_orderdate >=
                                    TIMESTAMP '2000-01-01')
            GROUP BY r.c_nationkey
        """,
        # q2: supplycost is MIN(extprice/qty) — IEEE division + MIN is a
        # deterministic selection (no accumulation), so the min-equality
        # join and the 4-dp decimal round agree across engines.
        "q2_min_cost_supplier": """
            WITH ps AS (
              SELECT l_partkey, l_suppkey,
                     MIN(l_extendedprice / l_quantity) AS supplycost
              FROM lineitem GROUP BY l_partkey, l_suppkey),
            eps AS (
              SELECT ps.*, s.s_name, s.s_acctbal, n.n_name
              FROM ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
              WHERE r.r_name = 'EUROPE'),
            mn AS (SELECT l_partkey, MIN(supplycost) AS min_cost
                   FROM eps GROUP BY l_partkey)
            SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_type,
                   CAST(ROUND(CAST(e.supplycost AS DECIMAL(30,8)), 4)
                        AS DOUBLE) AS supplycost
            FROM part p
            JOIN eps e ON e.l_partkey = p.p_partkey
            JOIN mn ON mn.l_partkey = p.p_partkey
                   AND e.supplycost = mn.min_cost
            WHERE p.p_size <= 15 AND p.p_type = 'STANDARD'
        """,
        # q11: share test runs in double on BOTH engines over exact
        # decimal sums — deterministic, no accumulation-order dependence.
        "q11_important_part_value": """
            WITH val AS (
              SELECT l.l_partkey,
                     SUM(CAST(l.l_extendedprice AS DECIMAL(30,8))) AS v
              FROM lineitem l
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              WHERE n.n_name IN ('NATION_3','NATION_7')
              GROUP BY l.l_partkey)
            SELECT l_partkey, CAST(ROUND(v, 2) AS DOUBLE) AS part_value
            FROM val
            WHERE CAST(v AS DOUBLE) * 1000 >
                  CAST((SELECT SUM(v) FROM val) AS DOUBLE)
        """,
        # q16: the NOT IN shape — legal here because s_suppkey is
        # non-nullable; the engine side runs the equivalent LEFT ANTI.
        "q16_supplier_count": """
            SELECT p.p_brand, p.p_type, p.p_size,
                   COUNT(DISTINCT pl.l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pl
            JOIN part p ON p.p_partkey = pl.l_partkey
            WHERE p.p_brand <> 'Brand#1'
              AND p.p_type NOT LIKE 'STA%'
              AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
              AND pl.l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
            GROUP BY p.p_brand, p.p_type, p.p_size
        """,
        "q20_excess_suppliers": """
            SELECT s.s_suppkey, s.s_name, n.n_name
            FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
            WHERE s.s_suppkey IN (
              SELECT l.l_suppkey FROM lineitem l
              WHERE l.l_partkey IN
                    (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
                AND l.l_shipdate >= TIMESTAMP '1996-01-01'
                AND l.l_shipdate <  TIMESTAMP '1997-01-01'
              GROUP BY l.l_partkey, l.l_suppkey
              HAVING SUM(CAST(l.l_quantity AS DECIMAL(30,8))) > 60)
        """,
        # q21: the literal correlated EXISTS/NOT-EXISTS form — pins the
        # engine's per-order aggregate decorrelation as equivalent.
        "q21_waiting_suppliers": """
            SELECT s.s_name, COUNT(*) AS numwait
            FROM supplier s
            JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
            JOIN orders o ON o.o_orderkey = l1.l_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate >
                                    o.o_orderdate + INTERVAL 30 DAY)
            GROUP BY s.s_name
        """,
        # q7: the literal two-direction OR form; the engine's
        # filter-both-sides + supp!=cust rewrite must be equivalent.
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(30,8))), 2) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1997-12-31'
            GROUP BY 1, 2, 3
        """,
        # q8: ratio of conditional to total volume over the SAME rows,
        # exact-decimal sums before the double division.
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   ROUND(
                     CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
                                        THEN l_extendedprice * (1 - l_discount)
                                        ELSE 0 END AS DECIMAL(30,8)))
                          AS DOUBLE)
                     / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(30,8))) AS DOUBLE),
                     6) AS mkt_share
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n1.n_regionkey
            JOIN nation n2 ON n2.n_nationkey = s_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
              AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                  AND TIMESTAMP '1997-12-31'
            GROUP BY 1
        """,
        # q9: supplycost is q2's derived relation (MIN unit price per
        # (part, supp)) — IEEE division + MIN, no accumulation order.
        "q9_product_type_profit": """
            WITH ps AS (
              SELECT l_partkey AS pk, l_suppkey AS sk,
                     MIN(l_extendedprice / l_quantity) AS cost
              FROM lineitem GROUP BY 1, 2)
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                       - cost * l_quantity
                                       AS DECIMAL(30,8))), 2) AS DOUBLE)
                       AS sum_profit
            FROM lineitem
            JOIN ps ON pk = l_partkey AND sk = l_suppkey
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN orders ON o_orderkey = l_orderkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "window_top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders)
            WHERE rank <= 3
        """,
        "rollup_order_priority": f"""
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   {exact_sum('o_totalprice')} AS total_price
            FROM orders
            GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        "agg_customer_order_stats": f"""
            SELECT c.c_mktsegment,
                   COUNT(*) AS n_orders,
                   {exact_sum('o.o_totalprice')} AS total_price,
                   {exact_avg('o.o_totalprice')} AS avg_price
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "events_hourly_type_counts": f"""
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n_events,
                   {exact_sum('value')} AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH e AS (
              SELECT user_id, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS tsec
              FROM events
            ), w AS (
              SELECT user_id, event_id, tsec,
                     CASE WHEN lag(tsec) OVER win IS NULL
                               OR tsec - lag(tsec) OVER win > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tsec, event_id)
            ), s AS (
              SELECT user_id, event_id, tsec,
                     SUM(ns) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
              FROM w
            )
            SELECT user_id, CAST(sid AS BIGINT) AS session_id,
                   COUNT(*) AS n_events,
                   MIN(event_id) AS first_event,
                   MAX(event_id) AS last_event,
                   MAX(tsec) - MIN(tsec) AS duration_s
            FROM s GROUP BY user_id, sid
        """,
        "events_session_window": """
            WITH w AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER win IS NULL
                               OR ts - lag(ts) OVER win > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS ns
              FROM events WINDOW win AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
              FROM w
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "events_value_quantiles": """
            SELECT event_type,
                   ROUND(quantile_cont(value, 0.5), 4) AS p50,
                   ROUND(quantile_cont(value, 0.95), 4) AS p95,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
        """,
        # Mirrors events.value_quantiles_sketch: equi-width histogram
        # replay — floor(value/0.01) bins, per-type running count, the
        # q-quantile = lowest bin whose cumulative count reaches
        # ceil(q·n).  Window SUM(BIGINT) is HUGEINT in DuckDB → cast.
        "events_value_quantiles_sketch": """
            WITH counts AS (
              SELECT event_type,
                     CAST(FLOOR(value / 0.01) AS BIGINT) AS b,
                     COUNT(*) AS c
              FROM events WHERE value IS NOT NULL
              GROUP BY event_type, b
            ), run AS (
              SELECT event_type, b,
                     SUM(c) OVER (PARTITION BY event_type ORDER BY b
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS rn,
                     SUM(c) OVER (PARTITION BY event_type) AS n
              FROM counts
            )
            SELECT event_type,
                   CAST(MAX(n) AS BIGINT) AS n_events,
                   CAST(MIN(CASE WHEN rn >= CEIL(0.5 * n) THEN b END)
                        AS BIGINT) AS p50_bin,
                   -- 1e-2 (double), NOT 0.01 (decimal literal): the
                   -- decimal multiply types the column DECIMAL(22,2),
                   -- the driver-hash-unsafe class the pytest guard
                   -- rejects; Spark multiplies by a double.
                   ROUND(MIN(CASE WHEN rn >= CEIL(0.5 * n) THEN b END)
                         * 1e-2, 4) AS p50_est,
                   CAST(MIN(CASE WHEN rn >= CEIL(0.95 * n) THEN b END)
                        AS BIGINT) AS p95_bin,
                   ROUND(MIN(CASE WHEN rn >= CEIL(0.95 * n) THEN b END)
                         * 1e-2, 4) AS p95_est
            FROM run GROUP BY event_type
        """,
        "events_user_type_matrix": """
            SELECT user_id,
                   COUNT(*) FILTER (WHERE event_type='click') AS click,
                   COUNT(*) FILTER (WHERE event_type='view') AS view,
                   COUNT(*) FILTER (WHERE event_type='purchase') AS purchase,
                   COUNT(*) FILTER (WHERE event_type='signup') AS signup,
                   COUNT(*) FILTER (WHERE event_type='error') AS error
            FROM events GROUP BY user_id
        """,
        # Property oracle: HLL++ is deterministic, so the bound flag is a
        # stable bit; the oracle asserts it HOLDS for every group while
        # the exact count anchors the row identity.
        "events_approx_distinct_bound": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS exact_users,
                   TRUE AS within_bound
            FROM events GROUP BY event_type
        """,
        # Property oracle: the three integers hold for ANY cell
        # assignment (coverage / within-cell completeness / pointer
        # totality), so the quantizer never needs reproducing — see
        # similarity.semantic_dedup_invariants.
        "docs_semantic_dedup_invariants": """
            SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
                   CAST(0 AS BIGINT) AS same_cell_missed_pairs,
                   CAST(0 AS BIGINT) AS dup_without_pointer
        """,
        "text_token_count": """
            SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "text_term_stats": """
            SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
            FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token
                  FROM documents) t
            GROUP BY token
        """,
        "text_lang_id": """
            WITH t AS (
              SELECT doc_id, text,
                     list_distinct(string_split(text,' ')) AS toks
              FROM documents
            ), s AS (
              SELECT doc_id, text,
                     len(list_intersect(toks, ['the','and','of','to','with'])) AS s_en,
                     len(list_intersect(toks, ['le','la','et','les','des'])) AS s_fr,
                     len(list_intersect(toks, ['der','die','und','das','mit'])) AS s_de,
                     len(list_intersect(toks, ['el','los','las','y','con'])) AS s_es
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                        WHEN GREATEST(s_en,s_fr,s_de,s_es) = 0 THEN 'und'
                        WHEN s_en >= GREATEST(s_fr,s_de,s_es) THEN 'en'
                        WHEN s_fr >= GREATEST(s_de,s_es) THEN 'fr'
                        WHEN s_de >= s_es THEN 'de'
                        ELSE 'es' END AS lang_pred
            FROM s
        """,
        "text_quality_score": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_m,
                   CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
                   ROUND(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                         / len(string_split(text,' ')), 4) AS distinct_ratio,
                   ROUND(CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
                         / len(string_split(text,' ')), 4) AS mean_token_len
            FROM documents
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(
                       list_sort(list_distinct(string_split(text,' '))), ' ')) AS fingerprint
            FROM documents
        """,
        "docs_dedup_exact": """
            SELECT md5(text) AS content_hash,
                   MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "docs_dedup_canonical": """
            SELECT md5(array_to_string(
                     list_sort(list_distinct(string_split(text,' '))), ' ')) AS fingerprint,
                   MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
            FROM documents
            GROUP BY 1
        """,
        "docs_dedup_minhash_lsh": NEAR_DUP_SQL,
        "docs_minhash_recall_report": _minhash_recall_oracle_sql(),
        "docs_dedup_ngram_jaccard": NEAR_DUP_SQL,
        # Mirrors dedup.containment_pairs: mod-4 sampled 8-char-gram md5
        # fingerprints, df<=50 prune, inverted-index pair join, integer
        # containment compare on the smaller side's retained count.
        "docs_containment_pairs": _CONTAINMENT_CTE
        + """
            SELECT id_a, id_b, shared, n_a, n_b FROM cpairs
        """,
        # Mirrors dedup.containment_dedup: the contained side is the one
        # with fewer retained fingerprints (larger id on ties), pointer
        # = smallest container, RAW (not transitively resolved).
        "docs_containment_dedup": _CONTAINMENT_CTE
        + """
            , rm AS (
              SELECT CASE WHEN n_a < n_b THEN id_a ELSE id_b END AS doc_id,
                     CASE WHEN n_a < n_b THEN id_b ELSE id_a END AS c
              FROM cpairs
            ), agg AS (
              SELECT doc_id, MIN(c) AS contained_in FROM rm GROUP BY doc_id
            )
            SELECT d.doc_id, a.contained_in IS NULL AS kept, a.contained_in
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        # Mirrors dedup.containment_roots: recursive pointer walk over
        # the contained_in functional graph until the root is a kept
        # doc.  agg is MATERIALIZED (the recursive-CTE gotcha: inlined
        # CTEs re-run the whole fingerprint pipeline per iteration);
        # the walk is single-path per doc and acyclic (pointers ascend
        # the (fingerprint-count, -id) order), so the final row per doc
        # is the one whose root is not itself dropped.
        "docs_containment_roots": _CONTAINMENT_CTE.replace(
            "WITH d AS", "WITH RECURSIVE d AS"
        )
        + """
            , rm AS (
              SELECT CASE WHEN n_a < n_b THEN id_a ELSE id_b END AS doc_id,
                     CASE WHEN n_a < n_b THEN id_b ELSE id_a END AS c
              FROM cpairs
            ), agg AS MATERIALIZED (
              SELECT doc_id, MIN(c) AS contained_in FROM rm GROUP BY doc_id
            ), walk AS (
              SELECT doc_id, contained_in AS root FROM agg
              UNION ALL
              SELECT w.doc_id, a.contained_in AS root
              FROM walk w JOIN agg a ON a.doc_id = w.root
            ), resolved AS (
              SELECT w.doc_id, w.root
              FROM walk w LEFT JOIN agg a2 ON a2.doc_id = w.root
              WHERE a2.doc_id IS NULL
            )
            SELECT d.doc_id,
                   a.contained_in IS NULL AS kept,
                   COALESCE(r.root, d.doc_id) AS root_id
            FROM documents d
            LEFT JOIN agg a USING (doc_id)
            LEFT JOIN resolved r ON r.doc_id = d.doc_id
        """,
        # SimHash pairs: the engine's pigeonhole banding is EXACT (any
        # pair at Hamming<=3 shares a full band), so its output equals
        # the all-pairs answer, which the oracle computes directly; the
        # signature itself mirrors bit-for-bit because the token hash is
        # conv(substr(sha256(token),1,15),16,10) == CAST('0x…' AS BIGINT)
        # (dedup.simhash, SIMHASH_BITS=60).
        "docs_dedup_simhash": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents
            ), th AS (
              SELECT doc_id,
                     CAST('0x' || substr(sha256(token), 1, 15) AS BIGINT) AS h
              FROM tok
            ), bits AS (
              SELECT doc_id, b.b AS b,
                     CASE WHEN SUM(CASE WHEN (h >> b.b) & 1 = 1
                                        THEN 1 ELSE -1 END) > 0
                          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                     END AS s
              FROM th, range(60) b(b)
              GROUP BY doc_id, b.b
            ), sims AS (
              SELECT doc_id, CAST(SUM(s * (CAST(1 AS BIGINT) << b))
                                  AS BIGINT) AS sh
              FROM bits GROUP BY doc_id
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM sims a JOIN sims b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
        # Decontamination: overlap counted on distinct 5-gram strings
        # (the engine joins on xxhash64 of the same strings — identical
        # counts absent a 64-bit collision, same convention as the
        # near-dup verifiers).
        "docs_eval_contamination": """
            WITH sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(
                       range(1, len(string_split(text,' ')) - 3),
                       i -> array_to_string(string_split(text,' ')[i:i+4], ' ')
                     )) AS sh
              FROM documents
              WHERE len(string_split(text,' ')) >= 5),
            ev AS (SELECT doc_id AS eval_doc_id, sh
                   FROM sh WHERE doc_id % 31 = 0),
            ev_sizes AS (SELECT eval_doc_id, COUNT(*) AS n_sh
                         FROM ev GROUP BY 1),
            hits AS (
              SELECT s.doc_id, e.eval_doc_id, COUNT(*) AS n_overlap
              FROM sh s JOIN ev e ON s.sh = e.sh
              WHERE s.doc_id <> e.eval_doc_id
              GROUP BY 1, 2)
            SELECT h.doc_id, h.eval_doc_id, h.n_overlap,
                   ROUND(CAST(h.n_overlap AS DOUBLE) / z.n_sh, 6)
                       AS overlap_frac
            FROM hits h JOIN ev_sizes z USING (eval_doc_id)
            WHERE ROUND(CAST(h.n_overlap AS DOUBLE) / z.n_sh, 6) >= 0.2
        """,
        "docs_source_mix_stats": """
            -- 4-dp means rounded in EXACT integer space (mirrors
            -- text.source_mix_stats): round(S/n,4) = (2*s_int*1e4 +
            -- n*10^p) // (2*n*10^p) / 1e4 with s_int = S*10^p integral.
            -- Rounding a double quotient flaps at tie boundaries (the
            -- r5 red row).
            WITH s AS (
              SELECT source,
                     COUNT(*) AS n_docs,
                     SUM(CAST(len(string_split(text,' ')) AS BIGINT))
                         AS n_tokens,
                     SUM(CAST(
                          CAST(len(list_distinct(string_split(text,' ')))
                               AS DOUBLE)
                          / len(string_split(text,' '))
                        AS DECIMAL(30,8))) AS rsum
              FROM documents GROUP BY source)
            -- CAST(n_tokens AS BIGINT): DuckDB types SUM(BIGINT) as
            -- HUGEINT, which the driver hash canonicalizes differently
            -- from Spark's bigint (the r7 false-negative class).
            SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((CAST(n_tokens AS HUGEINT) * 20000 + n_docs)
                        // (CAST(n_docs AS HUGEINT) * 2) AS DOUBLE)
                       / 10000 AS mean_doc_tokens,
                   CAST((CAST(rsum * 100000000 AS HUGEINT) * 20000
                         + CAST(n_docs AS HUGEINT) * 100000000)
                        // (CAST(n_docs AS HUGEINT) * 200000000) AS DOUBLE)
                       / 10000 AS mean_distinct_ratio
            FROM s
        """,
        "text_bpe_token_count": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                       AS n_bpe_tokens
            FROM documents
        """,
        "text_rolling_fingerprint": """
            WITH g AS (
              SELECT doc_id,
                     CASE WHEN length(text)-8+1 >= 4
                          THEN [md5(substring(text, i, 8))
                                for i in range(1, length(text)-8+2)]
                          ELSE CAST([] AS VARCHAR[]) END AS gr
              FROM documents
            ), wnd AS (
              SELECT doc_id,
                     CASE WHEN len(gr) >= 4
                          THEN list_distinct([list_min(gr[j:j+3])
                                              for j in range(1, len(gr)-4+2)])
                          ELSE CAST([] AS VARCHAR[]) END AS fp
              FROM g
            )
            SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fingerprints,
                   list_min(fp) AS min_fingerprint
            FROM wnd
        """,
        "emb_cosine_near_dup": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.v,b.v)
                         / (sqrt(list_dot_product(a.v,a.v))
                            * sqrt(list_dot_product(b.v,b.v))), 6) AS cosine
            FROM base a JOIN base b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v,b.v)
                  / (sqrt(list_dot_product(a.v,a.v))
                     * sqrt(list_dot_product(b.v,b.v))) >= 0.45
        """,
        # Full-pipeline mirrors of the LSH queries: the bucketing is exact
        # integer arithmetic (sha256-derived integer plane weights ×
        # floor(x*1e6+0.5)-quantized vectors, similarity._plane_weights /
        # bucket_keys), so DuckDB replicates candidate generation
        # bit-for-bit from the same public recipe and then reranks with
        # the same cosine formula as the exact queries.  This checks the
        # APPROXIMATE algorithm itself cross-engine — stronger than the
        # old rows-only record.
        "emb_cosine_near_dup_lsh": _LSH_CTE
        + """
            , cand AS (
              SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
              FROM bkey a JOIN bkey b ON a.bkt = b.bkt AND a.vid < b.vid
            ), base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT c.id_a, c.id_b,
                   ROUND(list_dot_product(a.v,b.v)
                         / (sqrt(list_dot_product(a.v,a.v))
                            * sqrt(list_dot_product(b.v,b.v))), 6) AS cosine
            FROM cand c
            JOIN base a ON a.vec_id = c.id_a
            JOIN base b ON b.vec_id = c.id_b
            WHERE list_dot_product(a.v,b.v)
                  / (sqrt(list_dot_product(a.v,a.v))
                     * sqrt(list_dot_product(b.v,b.v))) >= 0.45
        """,
        "emb_cosine_topk_lsh": _LSH_CTE
        + f"""
            , cand AS (
              SELECT DISTINCT q.vid AS query_id, o.vid AS nid
              FROM bkey q JOIN bkey o ON q.bkt = o.bkt AND o.vid != q.vid
              WHERE q.vid IN {TOPK_QUERY_IDS}
            ), base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), scored AS (
              SELECT c.query_id, c.nid AS neighbor_id,
                     ROUND(list_dot_product(q.v, b.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
              FROM cand c
              JOIN base q ON q.vec_id = c.query_id
              JOIN base b ON b.vec_id = c.nid
            )
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 10
        """,
        # Mirrors similarity.ann_recall_report: the exact top-k and the
        # LSH top-k replayed in one statement (both deterministic), with
        # recall = |intersection| / n_exact — the recall NUMBERS are
        # hash-checked, not just bounded by a pytest.
        "emb_ann_recall_report": _LSH_CTE
        + f"""
            , base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), lcand AS (
              SELECT DISTINCT q.vid AS query_id, o.vid AS nid
              FROM bkey q JOIN bkey o ON q.bkt = o.bkt AND o.vid != q.vid
              WHERE q.vid IN {TOPK_QUERY_IDS}
            ), lscored AS (
              SELECT c.query_id, c.nid,
                     ROUND(list_dot_product(q.v, b.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
              FROM lcand c
              JOIN base q ON q.vec_id = c.query_id
              JOIN base b ON b.vec_id = c.nid
            ), ltop AS (
              SELECT query_id, nid AS neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, nid) AS r
                FROM lscored) WHERE r <= 10
            )"""
        + _recall_tail_sql(
            str(TOPK_QUERY_IDS), 10, id_col="vec_id", vec_col="v"
        ),
        # Full replay of the integer-exact IVF pipeline (see
        # _ivf_oracle_sql): quantizer training, assignment, probing and
        # rerank are all reproduced bit-for-bit, so the APPROXIMATE
        # result itself is hash-checked, not just a recall bound.
        "emb_cosine_topk_ivf": _ivf_oracle_sql(),
        "emb_ivf_recall_report": _ivf_recall_oracle_sql(),
        "emb_adc_recall_report": _adc_recall_oracle_sql(),
        "emb_ivfpq_recall_report": _ivf_pq_recall_oracle_sql(),
        "docs_semantic_dedup": _semantic_dedup_oracle_sql(threshold=0.45),
        "events_approx_user_counts": _hll_oracle_sql(),
        "emb_pq_encode": _pq_oracle_sql(),
        "emb_pq_adc_topk": _pq_adc_oracle_sql(TOPK_QUERY_IDS, m=16),
        "emb_ivf_pq_topk": _ivf_pq_oracle_sql(TOPK_QUERY_IDS, m=16),
        "emb_cosine_topk": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), q AS (
              SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id IN (0,1,2,3,4)
            ), scored AS (
              SELECT q.qid AS query_id, b.vec_id AS neighbor_id,
                     ROUND(list_dot_product(q.qv, b.v)
                           / (sqrt(list_dot_product(q.qv, q.qv))
                              * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
              FROM q CROSS JOIN base b WHERE b.vec_id != q.qid
            )
            SELECT query_id, neighbor_id, rank, cosine FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 10
        """,
        "emb_vector_norms": """
            SELECT vec_id,
                   ROUND(sqrt(list_dot_product(
                       CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
            FROM embeddings
        """,
        "mm_blob_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
        """,
        # Identical contract to mm_blob_meta — the Spark side differs
        # only in execution strategy (mapInPandas vs built-ins).
        "mm_blob_meta_pandas": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents
        """,
        # Mirrors text.c4_quality_filters: every rule is exact integer
        # arithmetic (cross-multiplied ratio bounds, no float means).
        "docs_c4_quality_filters": """
            WITH d AS (
              SELECT doc_id,
                     string_split(coalesce(text,''), ' ') AS t,
                     CAST(len(replace(coalesce(text,''),' ',''))
                          AS BIGINT) AS nc
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS nw, nc,
                     CAST(len(list_filter(t, w -> w IN ('a','the')))
                          AS BIGINT) AS nstop,
                     CAST(list_max(list_transform(t, w -> len(w)))
                          AS BIGINT) AS maxw
              FROM d)
            SELECT doc_id,
                   nw AS n_words,
                   nw >= 30 AS pass_min_words,
                   4*nw <= nc AND nc <= 10*nw AS pass_mean_word_len,
                   100*nstop < 10*nw AS pass_stopword_ratio,
                   maxw <= 7 AS pass_max_word_len,
                   (nw >= 30 AND 4*nw <= nc AND nc <= 10*nw
                    AND 100*nstop < 10*nw AND maxw <= 7) AS keep
            FROM m
        """,
        # Mirrors splits.source_temperature_sample: T=0.5 temperature
        # weights S_s = floor(sqrt(n_s*1e6)); keep iff
        # H*denom*n_s < S_s*m*2^32 — all-integer (HUGEINT), no floats.
        # Mirror of splits.source_quota_cap (quota=15, margin=4, seed
        # quota-v1): md5 order key, integer ceil-div pre-thin rate,
        # integer cross-multiplied thin predicate, per-source rank.
        "docs_source_quota_cap": """
            WITH base AS (
              SELECT doc_id, source,
                     CAST('0x' || substr(md5('quota-v1:' ||
                          CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS okey
              FROM documents
            ), counts AS (
              SELECT source, COUNT(*) AS n FROM base GROUP BY source
            ), thinned AS (
              SELECT b.doc_id, b.source, b.okey
              FROM base b JOIN counts c USING (source)
              WHERE b.okey * 1000 <
                    LEAST(1000, (60000 + c.n - 1) // c.n) * 4294967296
            )
            SELECT doc_id, source, rank FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY okey, doc_id) AS rank
              FROM thinned)
            WHERE rank <= 15
        """,
        # Mirrors text.gopher_quality_filters: exact integer counts +
        # cross-multiplied ratio bounds, same pinned 8-stopword set.
        "docs_gopher_quality": """
            WITH d AS (
              SELECT doc_id, string_split(coalesce(text,''), ' ') AS t
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS nw,
                     CAST(len(list_filter(t,
                          w -> regexp_matches(w, '[A-Za-z]')))
                          AS BIGINT) AS na,
                     CAST(len(list_filter(t,
                          w -> contains(w, '#') OR contains(w, '...')))
                          AS BIGINT) AS ns,
                     CAST(len(list_filter(
                          ['the','be','to','of','and','that','have','with'],
                          s -> list_contains(t, s))) AS BIGINT) AS nr
              FROM d)
            SELECT doc_id,
                   nw AS n_words,
                   nw >= 40 AND nw <= 100000 AS pass_word_count,
                   100*na >= 80*nw AS pass_alpha_frac,
                   100*ns <= 10*nw AS pass_symbol_ratio,
                   nr >= 2 AS pass_required_stops,
                   (nw >= 40 AND nw <= 100000 AND 100*na >= 80*nw
                    AND 100*ns <= 10*nw AND nr >= 2) AS keep
            FROM m
        """,
        # Mirrors text.token_length_histogram (width 32, a power of two:
        # Spark's double-div bucket is exact, DuckDB uses integer //).
        "docs_token_length_histogram": """
            WITH d AS (
              SELECT CAST(len(string_split(coalesce(text,''), ' '))
                          AS BIGINT) AS n
              FROM documents)
            SELECT n // 32 AS bucket,
                   (n // 32) * 32 AS bucket_lo,
                   (n // 32) * 32 + 31 AS bucket_hi,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS n_tokens  -- HUGEINT guard
            FROM d GROUP BY 1, 2, 3
        """,
        # Mirrors text.chunk_overlap (chunk 64, stride 48): same integer
        # ceil-div window count, 1-based inclusive list_slice = F.slice.
        "docs_chunk_overlap": """
            WITH d AS (
              SELECT doc_id, string_split(coalesce(text,''), ' ') AS t
              FROM documents),
            s AS (
              SELECT doc_id, t,
                     CASE WHEN len(t) <= 64 THEN 1
                          ELSE (CAST(len(t) AS BIGINT) - 64 + 47) // 48 + 1
                     END AS ns
              FROM d),
            x AS (
              SELECT doc_id, t,
                     unnest(generate_series(0, ns - 1)) AS i
              FROM s)
            SELECT doc_id,
                   CAST(i AS BIGINT) AS chunk_id,
                   CAST(i * 48 AS BIGINT) AS start_token,
                   CAST(len(list_slice(t, i*48 + 1, i*48 + 64))
                        AS BIGINT) AS n_chunk_tokens,
                   array_to_string(list_slice(t, i*48 + 1, i*48 + 64), ' ')
                     AS chunk_text
            FROM x
        """,
        # Mirrors text.dsir_importance: same md5 bucket hash, target =
        # lang='en' (NULL lang counts as source-only), integer linear
        # statistic in HUGEINT, one final cast to double.
        "docs_dsir_importance": """
            WITH ex AS (
              SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
                     unnest(string_split(coalesce(text,''), ' ')) AS tok
              FROM documents),
            tok AS (
              SELECT doc_id, is_t,
                     CAST('0x' || substr(md5('dsir-v1:' || tok), 1, 8)
                          AS BIGINT) % 1024 AS b
              FROM ex),
            stats AS (SELECT b, SUM(is_t) AS p, COUNT(*) AS q
                      FROM tok GROUP BY b),
            tot AS (SELECT SUM(is_t) AS tp, COUNT(*) AS tq FROM tok),
            pdb AS (SELECT doc_id, b, COUNT(*) AS c
                    FROM tok GROUP BY doc_id, b)
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,  -- HUGEINT guard
                   CAST(SUM(CAST(c AS HUGEINT) *
                            (CAST(p AS HUGEINT) * tq
                             - CAST(q AS HUGEINT) * tp))
                        AS DOUBLE) AS score
            FROM pdb JOIN stats USING (b) CROSS JOIN tot
            GROUP BY doc_id
        """,
        # Mirrors text.quality_classifier_score: same md5 token weights,
        # int64 fold; list_sum/HUGEINT cast back to BIGINT.
        "docs_quality_classifier": """
            WITH d AS (
              SELECT doc_id, string_split(coalesce(text,''), ' ') AS t
              FROM documents),
            s AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(list_sum(list_transform(t, w ->
                          CAST('0x' || substr(md5('qc-v1:' || w), 1, 8)
                               AS BIGINT) % 100000 - 50000))
                          AS BIGINT) AS score
              FROM d)
            SELECT doc_id, n_tokens, score, score >= 0 AS keep FROM s
        """,
        # Mirrors splits.split_leakage: same md5 split buckets, 3-gram
        # inverted index, train-side distinct, left-join hit counting.
        "docs_split_leakage": """
            WITH sp AS (
              SELECT doc_id, text,
                     CASE WHEN CAST('0x' || substr(md5('split-v1:' ||
                               CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
                               % 100 < 90 THEN 'train'
                          WHEN CAST('0x' || substr(md5('split-v1:' ||
                               CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
                               % 100 < 95 THEN 'val'
                          ELSE 'test'
                     END AS split
              FROM documents),
            t AS (SELECT doc_id, split,
                         string_split(coalesce(text,''), ' ') AS tk
                  FROM sp),
            g AS (SELECT doc_id, split,
                         unnest(list_distinct(
                           CASE WHEN len(tk) >= 3
                                THEN [tk[i]||' '||tk[i+1]||' '||tk[i+2]
                                      for i in range(1, len(tk)-1)]
                                ELSE CAST([] AS VARCHAR[]) END)) AS gg
                  FROM t),
            tg AS (SELECT DISTINCT gg FROM g WHERE split = 'train'),
            agg AS (
              SELECT e.doc_id, COUNT(*) AS n_ngrams,
                     SUM(CASE WHEN tg.gg IS NULL THEN 0 ELSE 1 END)
                       AS n_leaked
              FROM g e LEFT JOIN tg USING (gg)
              WHERE e.split = 'test'
              GROUP BY e.doc_id)
            SELECT s.doc_id,
                   COALESCE(a.n_ngrams, 0) AS n_ngrams,
                   CAST(COALESCE(a.n_leaked, 0) AS BIGINT) AS n_leaked
            FROM sp s LEFT JOIN agg a USING (doc_id)
            WHERE s.split = 'test'
        """,
        # Mirrors events.salted_distinct_counts OUTPUT CONTRACT: the
        # salt decomposition is exact (salt is a function of the target,
        # so per-cell distinct sets partition the per-key set), so the
        # oracle is the plain unsalted aggregate.
        "events_salted_distinct_counts": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY event_type
        """,
        # Mirrors events.window_range_counts OUTPUT CONTRACT with the
        # literal range join the Spark side decomposes into a binned
        # equi-join (bins are internal, so the oracle needn't replicate
        # them).  Windows: [t0 + 7200·i, t0 + 7200·i + 3600), i < 12.
        "events_window_range_counts": """
            WITH b AS (
              SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t0
              FROM events
            ), w AS (
              SELECT CAST(i AS BIGINT) AS window_id,
                     t0 + i * 7200 AS start_s,
                     t0 + i * 7200 + 3600 AS end_s
              FROM b, range(12) r(i)
            ), m AS (
              SELECT w.window_id,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
              FROM w JOIN events e
                ON CAST(floor(epoch(e.ts)) AS BIGINT) >= w.start_s
               AND CAST(floor(epoch(e.ts)) AS BIGINT) < w.end_s
              GROUP BY 1
            )
            SELECT w.window_id, w.start_s, w.end_s,
                   COALESCE(m.n_events, 0) AS n_events,
                   COALESCE(m.n_users, 0) AS n_users
            FROM w LEFT JOIN m USING (window_id)
        """,
        # Mirrors dedup.incremental_exact_filter (the stream-composable
        # exact path): anti-join on md5 membership, odd/even split.
        "docs_dedup_incremental_exact": """
            SELECT doc_id, source FROM documents d
            WHERE doc_id % 2 = 1
              AND md5(text) NOT IN (SELECT md5(text) FROM documents
                                    WHERE doc_id % 2 = 0)
        """,
        # Mirrors text.source_lang_cube: one CUBE aggregation; gid is the
        # explicit 2*grouping(source)+grouping(lang) bitmask so subtotal
        # rows are distinguishable from real-NULL group members.
        "docs_source_lang_cube": """
            SELECT source, lang,
                   CAST(2 * GROUPING(source) + GROUPING(lang) AS BIGINT)
                     AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                     AS n_tokens
            FROM documents
            GROUP BY CUBE (source, lang)
        """,
        # Mirrors text.bpe_merge_pairs: word-frequency collapse first,
        # then char-pair explode over the vocab with frequency weights —
        # all exact integers, top-20 with the (count desc, pair asc)
        # deterministic tiebreak.
        "text_bpe_merge_pairs": """
            WITH w AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS wf FROM (
                SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE text IS NOT NULL)
              GROUP BY tok
            ), p AS (
              SELECT substr(tok, CAST(g.i AS INTEGER), 2) AS pair, wf
              FROM w, LATERAL (
                SELECT unnest(generate_series(1, length(tok) - 1)) AS i) g
              WHERE length(tok) >= 2
            )
            SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count
            FROM p GROUP BY pair
            ORDER BY pair_count DESC, pair ASC LIMIT 20
        """,
        # Mirrors text.bpe_apply: 8 unrolled training rounds + greedy
        # merge application via string replace — see _bpe_apply_oracle.
        "text_bpe_apply": _bpe_apply_oracle(),
        # Mirrors text.bigram_lm_score: corpus bigram counts, context
        # totals derived from the bigram table, per-bigram micro prob =
        # ROUND(1e6·c2/c1) (one correctly-rounded double op on exact
        # ints), integer sum + integer division for the per-doc mean.
        "text_bigram_lm_score": """
            WITH ex AS (
              SELECT doc_id,
                     tk[CAST(g.i AS INTEGER)] AS w1,
                     tk[CAST(g.i AS INTEGER) + 1] AS w2
              FROM (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents WHERE text IS NOT NULL) b,
                   LATERAL (SELECT unnest(
                     generate_series(1, len(tk) - 1)) AS i) g
              WHERE len(tk) >= 2
            ), c2 AS (
              SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
              FROM ex GROUP BY w1, w2
            ), c1 AS (
              SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
            ), model AS (
              SELECT w1, w2,
                     CAST(ROUND(1000000.0 * c2.c2 / c1.c1) AS BIGINT) AS m
              FROM c2 JOIN c1 USING (w1)
            ), per_doc AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                     CAST(SUM(m) AS BIGINT) AS sm
              FROM ex JOIN model USING (w1, w2) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(p.n_bigrams, 0) AS n_bigrams,
                   COALESCE(p.sm // p.n_bigrams, 0) AS lm_micro
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        # Mirrors similarity.random_projection: the ±1 sign matrix is
        # regenerated from the same public md5 recipe (parity of the
        # first hex nibble of md5('rp-v1:j:i')), inputs quantized with
        # the identical floor(x·1e6 + 0.5) op, outputs exact int64 sums.
        "emb_random_projection": """
            WITH s AS (
              SELECT j.j AS j, i.i AS i,
                     CASE WHEN strpos('13579bdf',
                            substr(md5('rp-v1:' || CAST(j.j AS VARCHAR)
                                       || ':' || CAST(i.i AS VARCHAR)),
                                   1, 1)) > 0
                          THEN -1 ELSE 1 END AS sgn
              FROM (SELECT unnest(generate_series(0, 15)) AS j) j,
                   (SELECT unnest(generate_series(0, 63)) AS i) i
            ), ex AS (
              SELECT vec_id, i.i AS i,
                     CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE)
                                * 1000000.0 + 0.5) AS BIGINT) AS q
              FROM embeddings,
                   (SELECT unnest(generate_series(0, 63)) AS i) i
            )
            SELECT ex.vec_id, CAST(s.j AS BIGINT) AS proj_dim,
                   CAST(SUM(s.sgn * ex.q) AS BIGINT) AS v_micro
            FROM ex JOIN s USING (i) GROUP BY ex.vec_id, s.j
        """,
        # Mirrors similarity.knn_graph_mutual_lsh end to end: the LSH
        # bucketing is the shared integer-exact _LSH_CTE recipe, the
        # candidate set is the bucket self-join (a < b, distinct), and
        # scoring/rank/mutual repeat the exact variant's ops — the
        # APPROXIMATE graph itself is hash-checked.
        "emb_knn_graph_mutual_lsh": _LSH_CTE
        + """
            , cand AS (
              SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
              FROM bkey a JOIN bkey b
                ON a.bkt = b.bkt AND a.vid < b.vid
            ), base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), half AS (
              SELECT c.id_a, c.id_b,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 6)
                       AS cosine
              FROM cand c
              JOIN base x ON x.vec_id = c.id_a
              JOIN base y ON y.vec_id = c.id_b
            ), directed AS (
              SELECT id_a AS src, id_b AS dst, cosine FROM half
              UNION ALL
              SELECT id_b AS src, id_a AS dst, cosine FROM half
            ), topk AS (
              SELECT src, dst, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS r
                FROM directed)
              WHERE r <= 5
            )
            SELECT f.src AS id_a, f.dst AS id_b, f.cosine
            FROM topk f JOIN topk r ON r.src = f.dst AND r.dst = f.src
            WHERE f.src < f.dst
        """,
        # Mirrors similarity.semantic_clusters_knn_lsh: the LSH mutual
        # graph replay above + the same recursive min-label reachability
        # the exact emb_semantic_clusters oracle runs.
        "emb_semantic_clusters_lsh": _LSH_CTE.replace(
            "WITH lshn", "WITH RECURSIVE lshn", 1
        )
        + """
            , cand AS (
              SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
              FROM bkey a JOIN bkey b
                ON a.bkt = b.bkt AND a.vid < b.vid
            ), base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), half AS (
              SELECT c.id_a, c.id_b,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 6)
                       AS cosine
              FROM cand c
              JOIN base x ON x.vec_id = c.id_a
              JOIN base y ON y.vec_id = c.id_b
            ), directed AS (
              SELECT id_a AS src, id_b AS dst, cosine FROM half
              UNION ALL
              SELECT id_b AS src, id_a AS dst, cosine FROM half
            ), topk AS (
              SELECT src, dst, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS r
                FROM directed)
              WHERE r <= 5
            ), mutual AS (
              SELECT f.src AS a, f.dst AS b
              FROM topk f JOIN topk r ON r.src = f.dst AND r.dst = f.src
              WHERE f.src < f.dst
            ), medges AS MATERIALIZED (
              -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs,
              -- so the recursive step below would otherwise re-run the
              -- whole LSH pipeline (bucketing, candidate join, scoring,
              -- ranking) on EVERY iteration — measured as a >29 GB
              -- spill at sf0.1 vs seconds with the edge list pinned.
              SELECT a, b FROM mutual
              UNION ALL
              SELECT b, a FROM mutual
            ), reach(src, dst) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT r.src, e.b FROM reach r JOIN medges e ON r.dst = e.a
            )
            SELECT src AS vec_id, MIN(dst) AS cluster_id,
                   (src = MIN(dst)) AS is_canonical
            FROM reach GROUP BY src
        """,
        # Mirrors text.cms_token_counts: md5-seeded buckets make the
        # whole Count-Min sketch deterministic, so the APPROXIMATE
        # estimates replay and hash-check (the LSH posture applied to a
        # counting sketch).
        "text_cms_token_counts": """
            WITH tf AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS tf_true FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents WHERE text IS NOT NULL)
              GROUP BY token
            ), hashed AS (
              SELECT token, tf_true, r.j AS row_id,
                     CAST(CAST('0x' || substr(md5('cms-v1:'
                              || CAST(r.j AS VARCHAR) || ':' || token),
                              1, 8) AS UBIGINT) % 64 AS BIGINT) AS bucket
              FROM tf, (SELECT unnest(generate_series(0, 3)) AS j) r
            ), counters AS (
              SELECT row_id, bucket,
                     CAST(SUM(tf_true) AS BIGINT) AS bucket_sum
              FROM hashed GROUP BY row_id, bucket
            )
            SELECT h.token, MAX(h.tf_true) AS tf_true,
                   MIN(c.bucket_sum) AS cms_est,
                   MIN(c.bucket_sum) - MAX(h.tf_true) AS overcount
            FROM hashed h JOIN counters c USING (row_id, bucket)
            GROUP BY h.token
        """,
        # Mirrors similarity.semantic_clusters_knn (mutual-kNN edges →
        # the shared dedup.connected_components fixpoint): the exact
        # mutual-kNN edge CTEs (same text as emb_knn_graph_mutual)
        # followed by the recursive-CTE transitive closure — the
        # docs_dedup_clusters oracle pattern applied to the embedding
        # graph.
        "emb_semantic_clusters": """
            WITH RECURSIVE base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), scored AS (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     ROUND(list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(b.v, b.v))), 6)
                       AS cosine
              FROM base a JOIN base b ON a.vec_id != b.vec_id
            ), topk AS (
              SELECT src, dst FROM (
                SELECT *, row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS r
                FROM scored)
              WHERE r <= 5
            ), mutual AS (
              SELECT f.src AS a, f.dst AS b
              FROM topk f JOIN topk r ON r.src = f.dst AND r.dst = f.src
              WHERE f.src < f.dst
            ), edges AS MATERIALIZED (
              -- MATERIALIZED: keeps the recursive step from re-running
              -- the O(n²) scoring join every iteration (see the
              -- emb_semantic_clusters_lsh note).
              SELECT a, b FROM mutual
              UNION ALL
              SELECT b, a FROM mutual
            ), reach(src, dst) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT src AS vec_id, MIN(dst) AS cluster_id,
                   (src = MIN(dst)) AS is_canonical
            FROM reach GROUP BY src
        """,
        # Mirrors similarity.knn_graph_mutual: rank on the ROUNDED cosine
        # with the id tiebreak (the emb_cosine_topk convention), mutual =
        # both directions inside top-5, reported once with id_a < id_b.
        "emb_knn_graph_mutual": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), scored AS (
              SELECT a.vec_id AS src, b.vec_id AS dst,
                     ROUND(list_dot_product(a.v, b.v)
                           / (sqrt(list_dot_product(a.v, a.v))
                              * sqrt(list_dot_product(b.v, b.v))), 6)
                       AS cosine
              FROM base a JOIN base b ON a.vec_id != b.vec_id
            ), topk AS (
              SELECT src, dst, cosine FROM (
                SELECT *, row_number() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS r
                FROM scored)
              WHERE r <= 5
            )
            SELECT f.src AS id_a, f.dst AS id_b, f.cosine
            FROM topk f JOIN topk r ON r.src = f.dst AND r.dst = f.src
            WHERE f.src < f.dst
        """,
        # Mirrors dedup.incremental_dedup over an odd/even doc_id split
        # (odd = the new batch, even = the reference corpus): exact dup
        # via md5 membership, near-dup via exact >=0.8 Jaccard on
        # new×ref shingle pairs (the LSH S-curve at b=32/r=4 makes the
        # banded Spark path equal the exact answer — same argument as
        # NEAR_DUP_SQL).
        "docs_dedup_incremental": SHINGLES_CTE
        + """
            , sz AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            refh AS (SELECT DISTINCT md5(text) AS h FROM documents
                     WHERE doc_id % 2 = 0),
            cand AS (
              SELECT a.doc_id AS new_id, b.doc_id AS ref_id,
                     COUNT(*) AS shared
              FROM ex a JOIN ex b ON a.g = b.g
              WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
              GROUP BY 1, 2
            ),
            ver AS (
              SELECT new_id, MIN(ref_id) AS near_dup_of,
                     MAX(j) AS max_jaccard
              FROM (
                SELECT new_id, ref_id,
                       ROUND(CAST(shared AS DOUBLE)
                             / (sa.n + sb.n - shared), 4) AS j
                FROM cand
                JOIN sz sa ON sa.doc_id = cand.new_id
                JOIN sz sb ON sb.doc_id = cand.ref_id)
              WHERE j >= 0.8
              GROUP BY new_id
            )
            SELECT d.doc_id,
                   COALESCE(md5(d.text) IN (SELECT h FROM refh), FALSE)
                     AS is_exact_dup,
                   v.near_dup_of,
                   v.max_jaccard,
                   ((NOT COALESCE(md5(d.text) IN (SELECT h FROM refh),
                                  FALSE))
                    AND v.near_dup_of IS NULL) AS kept
            FROM documents d LEFT JOIN ver v ON v.new_id = d.doc_id
            WHERE d.doc_id % 2 = 1
        """,
        # Mirrors retrieval.bm25_topk: log-free rational-idf BM25 with
        # binary-exact constants (k1=2, b=3/4) and integer micro-unit
        # per-doc sums; the scoring expression tree is repeated verbatim
        # (parenthesis for parenthesis) so every binary64 op is the same
        # correctly-rounded IEEE op on both engines.
        "docs_bm25_topk": """
            WITH base AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents
              WHERE text IS NOT NULL
            ), dl AS (
              SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM base
            ), totals AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
            ), hits AS (
              SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, unnest(tk) AS token FROM base)
              WHERE token IN ('spark','join','vector','hash')
              GROUP BY doc_id, token
            ), dfreq AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS df
              FROM hits GROUP BY token
            ), scored AS (
              SELECT h.doc_id,
                     CAST(ROUND((((t.n_docs - f.df + 0.5) / (f.df + 0.5))
                           * ((h.tf * 3.0)
                              / (h.tf + (2.0 * (0.25 + (0.75
                                 * ((CAST(l.dl AS DOUBLE) * t.n_docs)
                                    / t.sum_dl)))))))
                          * 1000000.0) AS BIGINT) AS m
              FROM hits h JOIN dl l USING (doc_id)
              CROSS JOIN totals t JOIN dfreq f USING (token)
            ), agg AS (
              SELECT doc_id, CAST(SUM(m) AS BIGINT) AS bm25_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_hit_terms
              FROM scored GROUP BY doc_id
            )
            SELECT doc_id, n_hit_terms, bm25_micro,
                   CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id)
                        AS BIGINT) AS rank
            FROM agg ORDER BY bm25_micro DESC, doc_id LIMIT 10
        """,
        # Mirrors retrieval.hybrid_rrf: RRF fusion of the BM25 top-50
        # (same expression as docs_bm25_topk) and the exact-cosine top-50
        # for query vec_id 0 (same expression as emb_cosine_topk);
        # contributions are round(1e6/(60+rank)) integer micro units.
        "docs_hybrid_rrf": """
            WITH base AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents
              WHERE text IS NOT NULL
            ), dl AS (
              SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM base
            ), totals AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
            ), hits AS (
              SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                SELECT doc_id, unnest(tk) AS token FROM base)
              WHERE token IN ('spark','join','vector','hash')
              GROUP BY doc_id, token
            ), dfreq AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS df
              FROM hits GROUP BY token
            ), scored AS (
              SELECT h.doc_id,
                     CAST(ROUND((((t.n_docs - f.df + 0.5) / (f.df + 0.5))
                           * ((h.tf * 3.0)
                              / (h.tf + (2.0 * (0.25 + (0.75
                                 * ((CAST(l.dl AS DOUBLE) * t.n_docs)
                                    / t.sum_dl)))))))
                          * 1000000.0) AS BIGINT) AS m
              FROM hits h JOIN dl l USING (doc_id)
              CROSS JOIN totals t JOIN dfreq f USING (token)
            ), agg AS (
              SELECT doc_id, CAST(SUM(m) AS BIGINT) AS bm25_micro
              FROM scored GROUP BY doc_id
            ), lex AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id)
                          AS BIGINT) AS rank_lex
              FROM agg ORDER BY bm25_micro DESC, doc_id LIMIT 50
            ), ebase AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), q AS (
              SELECT v AS qv FROM ebase WHERE vec_id = 0
            ), sem AS (
              SELECT vec_id AS doc_id,
                     CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
                          AS BIGINT) AS rank_sem
              FROM (
                SELECT b.vec_id,
                       ROUND(list_dot_product(q.qv, b.v)
                             / (sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(b.v, b.v))), 6)
                         AS cosine
                FROM q CROSS JOIN ebase b WHERE b.vec_id != 0)
              ORDER BY cosine DESC, vec_id LIMIT 50
            ), fused AS (
              SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                     l.rank_lex, s.rank_sem,
                     (COALESCE(CAST(ROUND(1000000.0 / (60.0 + l.rank_lex))
                                    AS BIGINT), 0)
                      + COALESCE(CAST(ROUND(1000000.0 / (60.0 + s.rank_sem))
                                      AS BIGINT), 0)) AS rrf_micro
              FROM lex l FULL OUTER JOIN sem s USING (doc_id)
            )
            SELECT doc_id, rank_lex, rank_sem, rrf_micro,
                   CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id)
                        AS BIGINT) AS rank
            FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 10
        """,
        # Mirrors events.retention_cohorts: integer week epochs anchored
        # at Monday 1970-01-05, no date_trunc dialect drift.
        "events_retention_cohorts": """
            WITH ev AS (
              SELECT user_id,
                     CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT)
                       // 7 AS w
              FROM events),
            first AS (SELECT user_id, MIN(w) AS cohort
                      FROM ev GROUP BY user_id)
            SELECT cohort AS cohort_week,
                   w - cohort AS week_offset,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_events
            FROM ev JOIN first USING (user_id)
            GROUP BY 1, 2
        """,
        # Mirrors splits.shard_manifest (16 shards, seed shard-v1): same
        # md5 order key, bit_xor membership checksum.
        "docs_shard_manifest": """
            WITH d AS (
              SELECT CAST('0x' || substr(md5('shard-v1:' ||
                          CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS okey,
                     CAST(len(string_split(coalesce(text,''), ' '))
                          AS BIGINT) AS n
              FROM documents)
            SELECT okey % 16 AS shard_id,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS n_tokens,  -- HUGEINT guard
                   bit_xor(okey) AS xor_checksum
            FROM d GROUP BY 1
        """,
        "docs_temperature_sample": """
            WITH c AS (
              SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
            w AS (
              SELECT source, n,
                     CAST(floor(sqrt(CAST(n AS DOUBLE)*1000000)) AS BIGINT)
                         AS s
              FROM c),
            t AS (SELECT SUM(n) AS N, SUM(s) AS denom FROM w),
            m AS (SELECT (N*30)//100 AS m, denom FROM t)
            SELECT d.doc_id, d.source
            FROM documents d JOIN w USING (source), m
            WHERE CAST(CAST('0x' || substr(md5('mix-v1:' ||
                       CAST(d.doc_id AS VARCHAR)), 1, 8) AS UBIGINT)
                       AS HUGEINT)
                  * CAST(m.denom AS HUGEINT) * w.n
                < CAST(w.s AS HUGEINT) * m.m * 4294967296
        """,
        # Mirrors dedup.remove_boilerplate: 3-token segments (1-based
        # inclusive list slice == Spark slice(start, len)), document
        # frequency >= 3 -> kill list, anti-join, reassemble in original
        # segment order.  Docs whose every segment is boilerplate drop.
        "docs_remove_boilerplate": """
            WITH toks AS (
              SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
              FROM documents),
            segs AS (
              SELECT doc_id, CAST(g.i AS BIGINT) AS seg_pos,
                     array_to_string(t[(g.i*3+1):(g.i*3+3)], ' ') AS seg
              FROM toks,
                   LATERAL (SELECT unnest(range(
                       CAST(ceil(len(t)/3.0) AS BIGINT))) AS i) g),
            boiler AS (
              SELECT seg FROM segs
              GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3),
            kept AS (
              SELECT * FROM segs
              WHERE seg NOT IN (SELECT seg FROM boiler))
            SELECT doc_id,
                   string_agg(seg, ' ' ORDER BY seg_pos) AS cleaned_text,
                   COUNT(*) AS n_segments_kept
            FROM kept GROUP BY doc_id
        """,
        # Closed form of the MVID synthesis: frame f of doc d is a solid
        # (4+d%8)×4 BMP with (r,g,b)=((d+f)%256,(d*7+f*3)%256,(d*13+f*5)%256);
        # a container-index or BMP-decode bug on the Spark side breaks
        # the pixel_sum match.
        "mm_frame_sample": """
            SELECT doc_id,
                   f AS frame_idx,
                   CAST(3 + doc_id % 6 AS BIGINT) AS n_frames,
                   CAST(4 + doc_id % 8 AS BIGINT) AS width,
                   CAST(4 AS BIGINT) AS height,
                   CAST((4 + doc_id % 8) * 4 *
                        ((doc_id + f) % 256 +
                         (doc_id * 7 + f * 3) % 256 +
                         (doc_id * 13 + f * 5) % 256) AS BIGINT) AS pixel_sum
            FROM (SELECT doc_id,
                         unnest(range(0, 3 + doc_id % 6, 2)) AS f
                  FROM documents)
        """,
        # Real encode→decode checks: Spark GENERATES binary WAV/BMP blobs
        # and DECODES them with a real parser (stdlib wave / BMP struct
        # walk); the oracle computes the closed-form features the
        # deterministic synthesis implies.  A decode bug on either leg
        # breaks the match.
        "mm_audio_features": """
            SELECT doc_id,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(1 AS BIGINT) AS n_channels,
                   CAST(200 + doc_id % 256 AS BIGINT) AS n_samples,
                   ROUND((200 + doc_id % 256) / 8000.0, 6) AS duration_s,
                   CAST(1 + (doc_id * 37) % 20000 AS BIGINT) AS peak,
                   ROUND(CAST(1 + (doc_id * 37) % 20000 AS DOUBLE), 6) AS rms
            FROM documents
        """,
        "mm_image_decode": """
            SELECT doc_id,
                   CAST(4 + doc_id % 8 AS BIGINT) AS width,
                   CAST(4 AS BIGINT) AS height,
                   ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS mean_r,
                   ROUND(CAST((doc_id * 7) % 256 AS DOUBLE), 6) AS mean_g,
                   ROUND(CAST((doc_id * 13) % 256 AS DOUBLE), 6) AS mean_b
            FROM documents
        """,
        # Connected components over the exact near-dup pair graph via a
        # recursive CTE — checks the Spark min-label-propagation fixpoint
        # (dedup_clusters) against transitive closure computed a wholly
        # different way.
        "docs_dedup_clusters": "WITH RECURSIVE "
        + SHINGLES_CTE.strip()[len("WITH ") :]
        + CLUSTERS_CTE_TAIL
        + """
SELECT src AS doc_id, MIN(dst) AS cluster_id,
       (src = MIN(dst)) AS is_canonical
FROM reach GROUP BY src
""",
        # Same component pass as docs_dedup_clusters, rolled up twice:
        # cluster -> size, size -> (n_clusters, n_docs).
        "docs_cluster_size_histogram": "WITH RECURSIVE "
        + SHINGLES_CTE.strip()[len("WITH ") :]
        + CLUSTERS_CTE_TAIL
        + """
, cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
         FROM reach GROUP BY src),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM cl GROUP BY cluster_id)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
""",
        # Same component pass as docs_dedup_clusters, then the longest
        # member (ties to smallest id) wins the cluster.
        "docs_cluster_keep_longest": "WITH RECURSIVE "
        + SHINGLES_CTE.strip()[len("WITH ") :]
        + CLUSTERS_CTE_TAIL
        + """
, cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
         FROM reach GROUP BY src),
tk AS (SELECT doc_id,
              CAST(len(string_split(coalesce(text,''),' ')) AS BIGINT)
                  AS n_tokens
       FROM documents)
SELECT t.doc_id, c.cluster_id, t.n_tokens,
       ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                          ORDER BY t.n_tokens DESC, t.doc_id ASC) = 1
           AS kept
FROM tk t JOIN cl c USING (doc_id)
""",
        # Mirrors dedup.curation_pipeline: the keep-longest component
        # pass (same CTEs as docs_cluster_keep_longest) joined with the
        # exact-dup window flag and the hashed-linear quality keep.
        "docs_curation_pipeline": "WITH RECURSIVE "
        + SHINGLES_CTE.strip()[len("WITH ") :]
        + CLUSTERS_CTE_TAIL
        + """
, cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
         FROM reach GROUP BY src),
tk AS (SELECT doc_id,
              CAST(len(string_split(coalesce(text,''),' ')) AS BIGINT)
                  AS n_tokens
       FROM documents),
keepl AS (
  SELECT t.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY t.n_tokens DESC, t.doc_id ASC) = 1
             AS cluster_kept
  FROM tk t JOIN cl c USING (doc_id)),
exd AS (
  SELECT doc_id,
         doc_id != MIN(doc_id) OVER (PARTITION BY md5(text))
             AS is_exact_dup
  FROM documents),
qc AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(
              string_split(coalesce(text,''), ' '), w ->
              CAST('0x' || substr(md5('qc-v1:' || w), 1, 8) AS BIGINT)
              % 100000 - 50000)) AS BIGINT) >= 0 AS quality_keep
  FROM documents)
SELECT d.doc_id, exd.is_exact_dup, keepl.cluster_kept, qc.quality_keep,
       ((NOT exd.is_exact_dup) AND keepl.cluster_kept
        AND qc.quality_keep) AS final_keep
FROM documents d
JOIN exd USING (doc_id)
JOIN keepl USING (doc_id)
JOIN qc USING (doc_id)
""",
        # The Spark side REALLY decodes and nearest-neighbor-resamples
        # the synthesized solid-fill BMPs; the oracle states the closed
        # form the synthesis implies (resizing a solid image preserves
        # the fill; checksum = 8·8·(r+g+b)).  An indexing bug in the
        # decode or resample breaks the match.
        "mm_resize_image": """
            SELECT doc_id,
                   CAST(8 AS BIGINT) AS width,
                   CAST(8 AS BIGINT) AS height,
                   CAST(doc_id % 256 AS DOUBLE) AS mean_r,
                   CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
                   CAST((doc_id * 13) % 256 AS DOUBLE) AS mean_b,
                   CAST(64 * ((doc_id % 256) + (doc_id * 7) % 256
                              + (doc_id * 13) % 256) AS BIGINT)
                       AS pixel_sum
            FROM documents
        """,
        # Mirrors text.ngram_novelty: trigram inverted index, earliest
        # doc wins the gram; counts only, no ratios to round.
        "text_ngram_novelty": SHINGLES_CTE
        + """
, ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
fs AS (SELECT g, MIN(doc_id) AS first FROM ex GROUP BY g),
pd AS (SELECT e.doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_ngrams,
              CAST(SUM(CASE WHEN e.doc_id = f.first THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_novel
       FROM ex e JOIN fs f USING (g) GROUP BY e.doc_id)
SELECT d.doc_id,
       coalesce(p.n_ngrams, 0) AS n_ngrams,
       coalesce(p.n_novel, 0) AS n_novel
FROM documents d LEFT JOIN pd p USING (doc_id)
""",
        "text_corpus_top_ngrams": SHINGLES_CTE
        + """
, ex AS (SELECT doc_id, unnest(s) AS g FROM sh)
SELECT g AS ngram, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM ex GROUP BY g
ORDER BY doc_freq DESC, ngram ASC LIMIT 20
""",
        # Mirrors splits.global_shuffle: shard = first 32 md5 bits mod 8,
        # in-shard order = the next 32 bits (ties by id).
        "docs_global_shuffle": """
            WITH h AS (
              SELECT doc_id,
                     CAST(CAST('0x' || substr(md5('shuffle-v1:' ||
                          CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 8
                          AS BIGINT) AS shard,
                     CAST(CAST('0x' || substr(md5('shuffle-v1:' ||
                          CAST(doc_id AS VARCHAR)), 9, 8) AS UBIGINT)
                          AS BIGINT) AS okey
              FROM documents)
            SELECT doc_id, shard,
                   CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                           ORDER BY okey, doc_id)
                        AS BIGINT) AS pos
            FROM h
        """,
        # Same regex constants as the Spark op (single source of truth);
        # DuckDB regexp_replace needs the explicit 'g' flag to match
        # Spark's replace-all semantics.
        "text_redact_pii": """
            WITH seeded AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or +1 555-010-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       AS text
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, 'EMAIL_RE'))
                          AS BIGINT) AS n_emails,
                     regexp_replace(text, 'EMAIL_RE', '<EMAIL>', 'g')
                       AS no_email
              FROM seeded
            )
            SELECT doc_id,
                   regexp_replace(no_email, 'PHONE_RE', '<PHONE>', 'g')
                     AS clean_text,
                   n_emails,
                   CAST(len(regexp_extract_all(no_email, 'PHONE_RE'))
                        AS BIGINT) AS n_phones
            FROM e
        """.replace("EMAIL_RE", textan.EMAIL_RE).replace(
            "PHONE_RE", textan.PHONE_RE
        ),
        # Element sums in exact DECIMAL on both engines (double summation
        # order differs across engines/partitionings).  The centroid is
        # serialized to a comma-joined micro-int string (round(m*1e6) per
        # element) — the same scalar encoding the Spark side emits, so
        # the comparison never touches an unhashable list column.
        "emb_class_centroids": """
            WITH ex AS (
              SELECT vec_id % 10 AS class, i.i AS d,
                     CAST(embedding[i.i] AS DOUBLE) AS x
              FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
            ),
            per_dim AS (
              SELECT class, d,
                     ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                           / COUNT(*), 6) AS m,
                     COUNT(*) AS n
              FROM ex GROUP BY class, d
            )
            SELECT class, MAX(n) AS n_vectors,
                   list_aggregate(
                     list_transform(
                       list(m ORDER BY d),
                       x -> CAST(CAST(ROUND(x * 1000000) AS BIGINT)
                                 AS VARCHAR)),
                     'string_agg', ',') AS centroid
            FROM per_dim GROUP BY class
        """,
        "docs_pack_chunks": """
            WITH counts AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     md5('pack-v1:' || CAST(doc_id AS VARCHAR)) AS ok
              FROM documents
            )
            SELECT doc_id, n_tokens,
                   row_number() OVER w AS pack_pos,
                   CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 2048.0)
                        AS BIGINT) AS start_chunk,
                   CAST(FLOOR((SUM(n_tokens) OVER w - 1) / 2048.0)
                        AS BIGINT) AS end_chunk
            FROM counts
            WINDOW w AS (ORDER BY ok, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # Sharded packing: same prefix-sum math per hash shard, then the
        # per-shard chunk counts prefix-sum into global base offsets so
        # shard chunk spaces are disjoint and contiguous in shard order.
        "docs_pack_chunks_sharded": """
            WITH counts AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                     md5('pack-v1:' || CAST(doc_id AS VARCHAR)) AS ok,
                     CAST(CAST('0x' || substr(md5('pack-v1:shard:'
                               || CAST(doc_id AS VARCHAR)), 1, 8)
                          AS UBIGINT) % 8 AS BIGINT) AS shard
              FROM documents
            ),
            local AS (
              SELECT shard, doc_id, n_tokens,
                     row_number() OVER w AS pack_pos,
                     CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 2048.0)
                          AS BIGINT) AS ls,
                     CAST(FLOOR((SUM(n_tokens) OVER w - 1) / 2048.0)
                          AS BIGINT) AS le
              FROM counts
              WINDOW w AS (PARTITION BY shard ORDER BY ok, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            bases AS (
              SELECT shard,
                     CAST(COALESCE(SUM(n_chunks) OVER (ORDER BY shard
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS base
              FROM (SELECT shard, MAX(le) + 1 AS n_chunks
                    FROM local GROUP BY shard)
            )
            SELECT l.shard, l.doc_id, l.n_tokens, l.pack_pos,
                   l.ls + b.base AS start_chunk,
                   l.le + b.base AS end_chunk
            FROM local l JOIN bases b USING (shard)
        """,
        "text_top_terms": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf
                   FROM tok GROUP BY doc_id, token),
            dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df
                      FROM tok GROUP BY token)
            SELECT doc_id, token, tf, df, score, rank FROM (
              SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                     ROUND(CAST(tf.tf AS DOUBLE) / dfreq.df, 6) AS score,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY ROUND(CAST(tf.tf AS DOUBLE) / dfreq.df, 6)
                                DESC, tf.token) AS rank
              FROM tf JOIN dfreq USING (token))
            WHERE rank <= 3
        """,
        "text_rare_token_ratio": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents
            ),
            freqs AS (SELECT token, COUNT(*) AS cf FROM tok GROUP BY token)
            SELECT tok.doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(CASE WHEN f.cf <= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_rare,
                   ROUND(CAST(SUM(CASE WHEN f.cf <= 2 THEN 1 ELSE 0 END)
                              AS DOUBLE) / COUNT(*), 4) AS rare_ratio
            FROM tok JOIN freqs f USING (token)
            GROUP BY tok.doc_id
        """,
        # Gopher-rule repetition signals: exact integer counts, one
        # division — bit-identical ranking across engines.
        "text_repetition_metrics": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents),
            uc AS (
              SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(tk) AS g FROM t)
              GROUP BY doc_id, g),
            ua AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS top
                   FROM uc GROUP BY doc_id),
            bc AS (
              SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest([tk[i] || ' ' || tk[i+1]
                                   for i in range(1, len(tk))]) AS g
                    FROM t WHERE len(tk) >= 2)
              GROUP BY doc_id, g),
            ba AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS top,
                          SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
                   FROM bc GROUP BY doc_id)
            SELECT ua.doc_id, ua.n AS n_tokens,
                   ROUND(CAST(ua.top AS DOUBLE) / ua.n, 6)
                     AS top_unigram_frac,
                   COALESCE(ROUND(CAST(ba.top AS DOUBLE) / ba.n, 6), 0.0)
                     AS top_bigram_frac,
                   COALESCE(ROUND(CAST(ba.dup AS DOUBLE) / ba.n, 6), 0.0)
                     AS dup_bigram_frac
            FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
        """,
        # Per-element double math is bit-identical across engines; every
        # aggregate here is an order-free max or an integer sum, so no
        # float-summation flap is possible.
        "emb_quantize_int8": """
            WITH c AS (
              SELECT vec_id,
                     list_transform(embedding,
                                    x -> CAST(x AS DOUBLE)) AS e,
                     list_max(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE)))) AS amax
              FROM embeddings
            ),
            s AS (
              SELECT vec_id, e, amax,
                     CASE WHEN amax > 0 THEN amax / 127.0
                          ELSE 1.0 END AS scale
              FROM c
            )
            SELECT vec_id,
                   CAST(len(e) AS BIGINT) AS n_dims,
                   ROUND(amax, 6) AS amax,
                   CAST(list_sum(list_transform(e,
                        x -> CAST(ROUND(x / scale) AS BIGINT)))
                        AS BIGINT) AS sum_codes,
                   CAST(len(list_filter(e,
                        x -> abs(CAST(ROUND(x / scale) AS BIGINT)) = 127))
                        AS BIGINT) AS n_saturated,
                   CAST(list_max(list_transform(e,
                        x -> CAST(ROUND(abs(x - CAST(ROUND(x / scale)
                                 AS BIGINT) * scale) * 1000000)
                             AS BIGINT))) AS BIGINT) AS max_err_micro
            FROM s
        """,
        "events_funnel": """
            WITH mins AS (
              SELECT user_id,
                     MIN(CASE WHEN event_type='view' THEN ts END) AS t0,
                     MIN(CASE WHEN event_type='click' THEN ts END) AS t1,
                     MIN(CASE WHEN event_type='purchase' THEN ts END) AS t2
              FROM events GROUP BY user_id
            )
            SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
                   COUNT(*) FILTER (t0 IS NOT NULL) AS n_users FROM mins
            UNION ALL
            SELECT 1, 'click',
                   COUNT(*) FILTER (t0 IS NOT NULL AND t1 IS NOT NULL
                                    AND t0 <= t1) FROM mins
            UNION ALL
            SELECT 2, 'purchase',
                   COUNT(*) FILTER (t0 IS NOT NULL AND t1 IS NOT NULL
                                    AND t0 <= t1 AND t2 IS NOT NULL
                                    AND t1 <= t2) FROM mins
        """,
        # Exact substring-dedup signal: md5-keyed token windows, so the
        # oracle reproduces identical span keys.
        "docs_duplicate_spans": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents),
            g AS (
              SELECT doc_id,
                     unnest([md5(list_aggregate(tk[i:i+9], 'string_agg', ' '))
                             for i in range(1, len(tk) - 8)]) AS h
              FROM t WHERE len(tk) >= 10
            ),
            shared AS (
              SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM g GROUP BY doc_id),
            dup AS (
              SELECT g.doc_id, COUNT(*) AS n_dup_spans
              FROM g JOIN shared USING (h) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(tot.n_spans, 0) AS n_spans,
                   COALESCE(dup.n_dup_spans, 0) AS n_dup_spans
            FROM documents d
            LEFT JOIN tot ON tot.doc_id = d.doc_id
            LEFT JOIN dup ON dup.doc_id = d.doc_id
        """,
        # Mirrors similarity.mean_center: DECIMAL(28,12) per-dim sums
        # (the class_centroids convention), mean rounded 6 dp once,
        # centered value = round(1e6·(x − m)).
        "emb_mean_center": """
            WITH ex AS (
              SELECT vec_id, i.i - 1 AS d,
                     CAST(embedding[i.i] AS DOUBLE) AS x
              FROM embeddings,
                   (SELECT unnest(generate_series(1, 64)) AS i) i
            ), m AS (
              SELECT d,
                     ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                           / COUNT(*), 6) AS m
              FROM ex GROUP BY d
            )
            SELECT ex.vec_id, CAST(ex.d AS BIGINT) AS d,
                   CAST(ROUND(1000000.0 * (ex.x - m.m)) AS BIGINT)
                     AS centered_micro
            FROM ex JOIN m USING (d)
        """,
        # Mirrors events.anomaly_zscore: the standardize discipline
        # applied per event_type; |z| > 3 flags, zero-variance groups
        # flag nothing.
        "events_anomaly_zscore": """
            WITH st AS (
              -- COUNT(value), not COUNT(*): n is non-null values only
              -- (the streaming moment-state denominator; see
              -- events.anomaly_zscore denominator contract).
              SELECT event_type,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(28,12)))
                                AS DOUBLE) / COUNT(value), 6) AS m,
                     ROUND(CAST(SUM(CAST(value * value AS DECIMAL(28,12)))
                                AS DOUBLE) / COUNT(value), 6) AS m2
              FROM events GROUP BY event_type
            )
            -- Guard on the VARIANCE (m2 - m*m) > 0, not sqrt's result:
            -- 6-dp rounding can make the difference slightly negative
            -- for constant groups (sqrt -> NaN, and both engines treat
            -- NaN > 0 as TRUE).  Mirrors events.anomaly_zscore.
            -- NULL values short-circuit before the guard (a null row
            -- in a zero-variance group must NOT score z=0).
            SELECT e.event_id, e.event_type,
                   CAST(ROUND(1000000.0 * (
                     CASE WHEN e.value IS NULL THEN NULL
                          WHEN (st.m2 - st.m * st.m) > 0
                          THEN (e.value - st.m)
                               / sqrt(st.m2 - st.m * st.m)
                          ELSE 0.0 END)) AS BIGINT) AS z_micro,
                   (abs(CASE WHEN e.value IS NULL THEN NULL
                             WHEN (st.m2 - st.m * st.m) > 0
                             THEN (e.value - st.m)
                                  / sqrt(st.m2 - st.m * st.m)
                             ELSE 0.0 END) > 3.0) AS is_anomaly
            FROM events e JOIN st USING (event_type)
        """,
        # Mirrors similarity.standardize: DECIMAL sums for m and E[x²]
        # rounded 6 dp once, s = sqrt(m2 − m²), z in integer micro
        # units; zero-variance dims standardize to 0 (variance guard,
        # not sqrt-result guard — see events_anomaly_zscore note).
        "emb_standardize": """
            WITH ex AS (
              SELECT vec_id, i.i - 1 AS d,
                     CAST(embedding[i.i] AS DOUBLE) AS x
              FROM embeddings,
                   (SELECT unnest(generate_series(1, 64)) AS i) i
            ), st AS (
              SELECT d,
                     ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                           / COUNT(*), 6) AS m,
                     ROUND(CAST(SUM(CAST(x * x AS DECIMAL(28,12)))
                                AS DOUBLE) / COUNT(*), 6) AS m2
              FROM ex GROUP BY d
            )
            SELECT ex.vec_id, CAST(ex.d AS BIGINT) AS d,
                   CAST(ROUND(1000000.0 * (
                     CASE WHEN (st.m2 - st.m * st.m) > 0
                          THEN (ex.x - st.m) / sqrt(st.m2 - st.m * st.m)
                          ELSE 0.0 END)) AS BIGINT) AS z_micro
            FROM ex JOIN st USING (d)
        """,
        # Mirrors text.quality_yield_curve: same hashed-linear score as
        # docs_quality_classifier, ntile over (score desc, doc_id), one
        # cumulative pass over the 10 bucket rows.
        "docs_quality_yield_curve": """
            WITH d AS (
              SELECT doc_id, string_split(coalesce(text,''), ' ') AS t
              FROM documents),
            s AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(list_sum(list_transform(t, w ->
                          CAST('0x' || substr(md5('qc-v1:' || w), 1, 8)
                               AS BIGINT) % 100000 - 50000))
                          AS BIGINT) AS score
              FROM d),
            b AS (
              SELECT *, CAST(ntile(10) OVER (
                       ORDER BY score DESC, doc_id ASC) AS BIGINT)
                     AS bucket
              FROM s),
            pb AS (
              SELECT bucket,
                     CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                     MIN(score) AS score_floor
              FROM b GROUP BY bucket)
            SELECT bucket, n_docs, n_tokens, score_floor,
                   CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
                   CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
            FROM pb
            WINDOW w AS (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        """,
        # Mirrors text.quality_yield_curve_approx: same score, 20000-
        # wide histogram bins, bucket(bin) = (10*cum_before) div total
        # + 1 in bin-desc order — every boundary an int64 compare, so
        # the approx curve replays exactly.
        "docs_quality_yield_curve_approx": """
            WITH d AS (
              SELECT doc_id, string_split(coalesce(text,''), ' ') AS t
              FROM documents),
            s AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(list_sum(list_transform(t, w ->
                          CAST('0x' || substr(md5('qc-v1:' || w), 1, 8)
                               AS BIGINT) % 100000 - 50000))
                          AS BIGINT) AS score
              FROM d),
            bn AS (
              SELECT CAST(FLOOR(CAST(score AS DOUBLE) / 20000.0)
                          AS BIGINT) AS bin,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(n_tokens) AS BIGINT) AS t,
                     MIN(score) AS fl
              FROM s GROUP BY 1),
            a AS (
              SELECT *,
                     CAST(coalesce(SUM(n) OVER (ORDER BY bin DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS cb,
                     CAST(SUM(n) OVER () AS BIGINT) AS nt
              FROM bn),
            pb AS (
              SELECT CAST((10 * cb) // nt + 1 AS BIGINT) AS bucket,
                     CAST(SUM(n) AS BIGINT) AS n_docs,
                     CAST(SUM(t) AS BIGINT) AS n_tokens,
                     MIN(fl) AS score_floor
              FROM a GROUP BY 1)
            SELECT bucket, n_docs, n_tokens, score_floor,
                   CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
                   CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
            FROM pb
            WINDOW w AS (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        """,
        # Mirrors text.vocab_coverage: (tf desc, token) rank, integer
        # cumulative sum, coverage_ppm = floor(1e6·cum/total).
        "text_vocab_coverage": """
            WITH tf AS (
              SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents WHERE text IS NOT NULL)
              GROUP BY token
            ), r AS (
              SELECT token, tf,
                     CAST(row_number() OVER (ORDER BY tf DESC, token ASC)
                          AS BIGINT) AS rank,
                     CAST(SUM(tf) OVER (ORDER BY tf DESC, token ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS cum_tf
              FROM tf
            ), t AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tf)
            SELECT rank, token, tf, cum_tf,
                   CAST(FLOOR(1000000.0 * cum_tf / t.total) AS BIGINT)
                     AS coverage_ppm
            FROM r CROSS JOIN t
            WHERE rank IN (1, 2, 5, 10, 20, 50)
        """,
        # Mirrors dedup.remove_duplicate_spans: same md5 window keys as
        # docs_duplicate_spans but carrying start positions, covered
        # positions exploded from shared windows, survivors stitched in
        # order; fully-covered docs come back as ''.
        "docs_remove_duplicate_spans": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents WHERE text IS NOT NULL),
            g AS (
              SELECT doc_id, s.i AS start,
                     md5(list_aggregate(tk[CAST(s.i AS INTEGER)
                                           : CAST(s.i AS INTEGER) + 9],
                                        'string_agg', ' ')) AS h
              FROM t, LATERAL (SELECT unnest(
                generate_series(1, len(tk) - 9)) AS i) s
              WHERE len(tk) >= 10
            ),
            shared AS (
              SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
            ),
            cov AS (
              SELECT DISTINCT g.doc_id, p.p
              FROM g JOIN shared USING (h),
                   LATERAL (SELECT unnest(
                     generate_series(g.start, g.start + 9)) AS p) p
            ),
            pos AS (
              SELECT doc_id, s.i AS p, tk[CAST(s.i AS INTEGER)] AS token
              FROM t, LATERAL (SELECT unnest(
                generate_series(1, len(tk))) AS i) s
            ),
            kept AS (
              SELECT pos.doc_id, pos.p, pos.token
              FROM pos ANTI JOIN cov USING (doc_id, p)
            ),
            reb AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                     string_agg(token, ' ' ORDER BY p) AS clean_text
              FROM kept GROUP BY doc_id
            ),
            tot AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
                    FROM t)
            SELECT d.doc_id,
                   COALESCE(tot.n_tokens, 0) AS n_tokens,
                   COALESCE(tot.n_tokens, 0) - COALESCE(reb.n_kept, 0)
                     AS n_removed,
                   CASE WHEN tot.doc_id IS NULL THEN NULL
                        ELSE COALESCE(reb.clean_text, '') END AS clean_text
            FROM documents d
            LEFT JOIN tot ON tot.doc_id = d.doc_id
            LEFT JOIN reb ON reb.doc_id = d.doc_id
        """,
        # Identical md5 hash-bucketing on both engines: membership is a
        # pure function of (seed, id), so the oracle reproduces the exact
        # split/sample, not a statistical approximation.
        "docs_dataset_split": """
            SELECT doc_id,
                   CAST(CAST('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                             AS UBIGINT) % 100 AS BIGINT) AS bucket,
                   CASE
                     WHEN CAST('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                          AS UBIGINT) % 100 < 90 THEN 'train'
                     WHEN CAST('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                          AS UBIGINT) % 100 < 95 THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents
        """,
        "events_stratified_sample": """
            SELECT event_id, user_id, event_type
            FROM events
            WHERE CAST('0x' || substr(md5('sample-v1:' || CAST(event_id AS VARCHAR)), 1, 8)
                       AS UBIGINT) % 100
                  < CASE event_type WHEN 'view' THEN 10
                                    WHEN 'click' THEN 50
                                    ELSE 100 END
        """,
        "events_rolling_stats": """
            SELECT event_id, user_id, ts,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     AS rolling_sum,
                   MAX(value) OVER w AS rolling_max,
                   COUNT(*) OVER w AS rolling_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        """,
        # r10 PCA family: shared unrolled power-iteration chain
        # (_pca_oracle) — covariance, component, projection.
        "emb_pca_covariance": _pca_oracle(
            "SELECT i, j, c AS c_micro FROM cov"
        ),
        "emb_pca_top_component": _pca_oracle(
            f"""SELECT v{_PCA_STEPS}.d AS d, v{_PCA_STEPS}.v AS v_micro,
                   CASE WHEN n{_PCA_STEPS}.norm2 > 0
                        THEN CAST(FLOOR(sqrt(n{_PCA_STEPS}.norm2) + 0.5)
                                  AS BIGINT)
                        ELSE 0 END AS lambda_micro
            FROM v{_PCA_STEPS}, n{_PCA_STEPS}"""
        ),
        "emb_pca_project": _pca_oracle(
            f"""SELECT ex.vec_id,
                   CAST(ROUND(1000000.0 * CAST(SUM(CAST(
                          (ex.x - m.m) * (v{_PCA_STEPS}.v / 1000000.0)
                        AS DECIMAL(28,12))) AS DOUBLE)) AS BIGINT)
                     AS score_micro
            FROM ex
            JOIN (SELECT d,
                         ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12)))
                                    AS DOUBLE) / COUNT(*), 6) AS m
                  FROM ex GROUP BY d) m USING (d)
            JOIN v{_PCA_STEPS} ON v{_PCA_STEPS}.d = ex.d
            GROUP BY ex.vec_id"""
        ),
        "emb_pca_var_explained": _pca_oracle(
            f"""SELECT
                   CASE WHEN n{_PCA_STEPS}.norm2 > 0
                        THEN CAST(FLOOR(sqrt(n{_PCA_STEPS}.norm2) + 0.5) AS BIGINT)
                        ELSE 0 END AS lambda_micro,
                   t.trace AS trace_micro,
                   CASE WHEN t.trace > 0
                        THEN CAST(FLOOR(1000000.0 *
                               (CASE WHEN n{_PCA_STEPS}.norm2 > 0
                                     THEN CAST(FLOOR(sqrt(n{_PCA_STEPS}.norm2)
                                               + 0.5) AS BIGINT)
                                     ELSE 0 END)
                               / t.trace + 0.5) AS BIGINT)
                        ELSE 0 END AS var_explained_micro
            FROM n{_PCA_STEPS},
                 (SELECT CAST(SUM(c) AS BIGINT) AS trace
                  FROM cov WHERE i = j) t"""
        ),
        # Two-stage chain: stage-1 iteration, integer Hotelling
        # deflation (sign-symmetric // so DuckDB's truncating division
        # matches Python's floor on magnitudes), stage-2 iteration
        # with the t2 prefix.  Mirrors similarity.pca_top2_components.
        "emb_pca_top2_components": _pca_oracle(
            _PCA_TOP2_TAIL
        ),
        # Same two-stage chain as emb_pca_top2_components, different
        # tail: per-vector conditional decimal sums against both
        # components (FILTER-style), the pca_project recipe twice.
        "emb_pca_project2d": _pca_oracle(
            _PCA_TOP2_TAIL.split("SELECT CAST(1 AS BIGINT)")[0]
            + """, comps AS (
              SELECT CAST(1 AS BIGINT) AS component, d, v FROM v8
              UNION ALL
              SELECT CAST(2 AS BIGINT), d, v FROM t2v8
            ),
            m AS (
              SELECT d,
                     ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12)))
                                AS DOUBLE) / COUNT(*), 6) AS m
              FROM ex GROUP BY d
            )
            SELECT ex.vec_id,
                   CAST(ROUND(1000000.0 * CAST(SUM(CAST(
                          (ex.x - m.m) * (comps.v / 1000000.0)
                        AS DECIMAL(28,12)))
                        FILTER (WHERE comps.component = 1)
                        AS DOUBLE)) AS BIGINT) AS pc1_micro,
                   CAST(ROUND(1000000.0 * CAST(SUM(CAST(
                          (ex.x - m.m) * (comps.v / 1000000.0)
                        AS DECIMAL(28,12)))
                        FILTER (WHERE comps.component = 2)
                        AS DOUBLE)) AS BIGINT) AS pc2_micro
            FROM ex
            JOIN m USING (d)
            JOIN comps ON comps.d = ex.d
            GROUP BY ex.vec_id"""
        ),
        # Label-keyed PCA chain (per-class spectra).
        "emb_pca_by_label": _pca_label_oracle(),
        # Per-class projection: the label-keyed chain's components +
        # label-keyed mean_center recipe + one grouped decimal score.
        "emb_pca_project_by_label": _pca_label_oracle_project(),
        # Mirrors splits.mixture_plan: ramp weights, integer targets /
        # rates (all operands non-negative, so Spark div == DuckDB //).
        "docs_mixture_plan": """
            WITH g AS (
              SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(len(string_split(coalesce(text, ''), ' ')))
                          AS BIGINT) AS actual_tokens
              FROM documents GROUP BY source
            ), t AS (
              SELECT *,
                     (100000 * (20 - CAST(regexp_replace(source, '^src',
                                                         '') AS BIGINT)))
                       // 210 AS target_tokens
              FROM g
            )
            SELECT source, n_docs, actual_tokens, target_tokens,
                   CAST(CASE WHEN actual_tokens > 0
                        THEN least(1000000,
                                   (target_tokens * 1000000)
                                     // actual_tokens)
                        ELSE 0 END AS BIGINT) AS rate_micro,
                   CAST((actual_tokens *
                         CASE WHEN actual_tokens > 0
                              THEN least(1000000,
                                         (target_tokens * 1000000)
                                           // actual_tokens)
                              ELSE 0 END) // 1000000 AS BIGINT)
                     AS expected_tokens
            FROM t
        """,
        # Mirrors similarity.maha_outliers: the standardize recipe,
        # z² decimal-summed per vector, flag on the quantized score.
        "emb_maha_outliers": """
            WITH ex AS (
              SELECT vec_id, i.i - 1 AS d,
                     CAST(embedding[i.i] AS DOUBLE) AS x
              FROM embeddings,
                   (SELECT unnest(generate_series(1, 64)) AS i) i
            ), st AS (
              SELECT d,
                     ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12)))
                                AS DOUBLE) / COUNT(*), 6) AS m,
                     ROUND(CAST(SUM(CAST(x * x AS DECIMAL(28,12)))
                                AS DOUBLE) / COUNT(*), 6) AS m2
              FROM ex GROUP BY d
            ), sc AS (
              SELECT ex.vec_id,
                     CAST(ROUND(1000000.0 * CAST(SUM(CAST(
                            (CASE WHEN (st.m2 - st.m * st.m) > 0
                                  THEN (ex.x - st.m)
                                       / sqrt(st.m2 - st.m * st.m)
                                  ELSE 0.0 END)
                            * (CASE WHEN (st.m2 - st.m * st.m) > 0
                                    THEN (ex.x - st.m)
                                         / sqrt(st.m2 - st.m * st.m)
                                    ELSE 0.0 END)
                          AS DECIMAL(28,12))) AS DOUBLE)) AS BIGINT)
                       AS maha_micro
              FROM ex JOIN st USING (d)
              GROUP BY ex.vec_id
            )
            SELECT vec_id, maha_micro,
                   maha_micro > 65280000 AS is_outlier
            FROM sc
        """,
        # Mirrors dedup.snapshot_delta over the _q_snapshot_delta
        # version derivations (old: %7 filter + 7-char trim for %5;
        # new: %11 filter).
        "docs_snapshot_delta": """
            WITH old AS (
              SELECT doc_id,
                     md5(coalesce(CASE WHEN doc_id % 5 = 0
                                  THEN substring(text, 1,
                                         greatest(length(text) - 7, 0))
                                  ELSE text END, '')) AS oh
              FROM documents WHERE doc_id % 7 <> 3
            ), new AS (
              SELECT doc_id, md5(coalesce(text, '')) AS nh
              FROM documents WHERE doc_id % 11 <> 5
            )
            SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
                   CASE WHEN oh IS NULL THEN 'added'
                        WHEN nh IS NULL THEN 'removed'
                        ELSE 'changed' END AS status
            FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
            WHERE oh IS NULL OR nh IS NULL OR oh <> nh
        """,
        # Mirrors dedup.reembed_worklist over the same derivations:
        # added/changed churn UNION missing-embedding backfill (delta
        # status wins).
        "docs_reembed_worklist": """
            WITH old AS (
              SELECT doc_id,
                     md5(coalesce(CASE WHEN doc_id % 5 = 0
                                  THEN substring(text, 1,
                                         greatest(length(text) - 7, 0))
                                  ELSE text END, '')) AS oh
              FROM documents WHERE doc_id % 7 <> 3
            ), new AS (
              SELECT doc_id, md5(coalesce(text, '')) AS nh
              FROM documents WHERE doc_id % 11 <> 5
            ), delta AS (
              SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
                     CASE WHEN oh IS NULL THEN 'added'
                          WHEN nh IS NULL THEN 'removed'
                          ELSE 'changed' END AS status
              FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
              WHERE oh IS NULL OR nh IS NULL OR oh <> nh
            ), keepdelta AS (
              SELECT doc_id, status FROM delta WHERE status <> 'removed'
            ), have AS (
              SELECT DISTINCT vec_id AS doc_id FROM embeddings
            ), missing AS (
              SELECT n.doc_id, 'missing_embedding' AS status
              FROM new n LEFT JOIN have h USING (doc_id)
              WHERE h.doc_id IS NULL
            )
            SELECT doc_id, status FROM keepdelta
            UNION ALL
            SELECT m.doc_id, m.status
            FROM missing m LEFT JOIN keepdelta d USING (doc_id)
            WHERE d.doc_id IS NULL
        """,
        # DuckDB's native ASOF JOIN checks the union/last-value
        # distributed as-of implementation.
        "events_asof_last_purchase": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            purch AS (
              SELECT user_id, ts, MAX(value) AS purchase_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts
            )
            SELECT c.event_id, c.user_id, c.ts,
                   p.purchase_value AS last_purchase_value
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
    }
