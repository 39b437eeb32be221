"""SparkSession factory with the engine's standard configuration.

Local test/bench runs use ``local[cpu_count()]``; on a real cluster the
same builder options apply unchanged (the master is injected by spark-submit).
Every knob here is chosen for the 100 TB posture:

  * AQE on — runtime coalescing, skew-join splitting, dynamic join-strategy
    demotion are essential once partition statistics are only known at run
    time on big inputs.
  * ``spark.sql.shuffle.partitions`` defaults to ``cpu_count()``, one
    partition per core the session runs on; ``extra_conf`` overrides it
    like any other key.  For batch plans AQE's coalescing makes
    the number a ceiling rather than a tuning knob.  Stateful streaming
    operators are outside AQE: a query's first start freezes the count
    into its checkpoint (one state-store instance per partition per
    trigger), and every restart from that checkpoint keeps it whatever
    the session says.
  * RocksDB changelog checkpointing on: a state-store commit logs only
    the micro-batch's changes instead of copying a full checkpoint per
    partition, which is most of a catch-up restart's state commit.
    Existing checkpoints restart under either setting.
  * Arrow enabled — every pandas_udf / mapInPandas boundary is Arrow-batched.
  * Session timezone pinned UTC so event-time semantics are stable and the
    DuckDB oracle (UTC-naive timestamps) compares cleanly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    """Cores for ``local[N]`` and the shuffle-partition default:
    ``$SPARK_GRAFT_CPUS`` when set, else the cores this process may run
    on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "k8stream_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` → ``local[cpu_count()]`` for local runs; pass an
    explicit master (or let spark-submit inject one) on a cluster.
    ``extra_conf`` is applied last, so it overrides any key set here.
    """
    n = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver fixtures are TIMESTAMP(NANOS) parquet; read nanos as
        # long and let the loader convert (sources/fixtures.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # In local mode the driver JVM hosts every executor thread;
        # Spark's 1g default starves them (observed: GC-locker death on
        # map-heavy aggregates at sf0.1), and a long many-query session
        # shows late GC tails at 8g.  Harmless when spark-submit
        # overrides.
        .config("spark.driver.memory", "16g")
        # A many-query session compiles hundreds of whole-stage-codegen
        # classes; the JVM's default 240m code cache fills mid-session,
        # JIT compilation stops, and every later query runs partially
        # interpreted (~1.5× slower).  512m keeps codegen compiled
        # end-to-end.
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m"
        )
        # ContextCleaner only releases shuffle files, broadcast blocks and
        # localCheckpoint RDDs after a DRIVER GC collects their references
        # — and the default periodic-GC interval is 30min.  A large heap
        # means organic GCs are rare, so a many-query session accumulates
        # dead executor-side state for minutes and later queries inherit
        # the litter (observed: docs_dedup_clusters 6 s isolated vs
        # 12-50 s late in a long session).  1min bounds the litter window.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        # The console progress bar writes \r-terminated lines that glue
        # onto diagnostic output (check_oracle / plan_audit line parsing).
        .config("spark.ui.showConsoleProgress", "false")
        # Streaming state at scale: RocksDB keeps dedup state off-heap and
        # incrementally checkpointed (reference's buntdb cache analog,
        # reference cache.go:19-140 — but durable and partitioned).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
