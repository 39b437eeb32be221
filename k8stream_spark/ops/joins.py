"""Enrichment joins J1-J6, aggregation A1, union U1
(reference event.go:33-77, k8sclient.go:62-159, event_service.go:10-96,
main.go:84-90).

The reference's joins are all memoized point lookups (hash-join-with-a-
cache).  Spark inverts the access pattern: join against the whole dimension
with an explicit ``broadcast`` — at 100 TB the fact side streams through
executors while the dim ships once per executor, no shuffle of the big side.

J4 (label-selector containment) is the one join Spark lacks natively.  The
scale-safe form (SURVEY.md §7.4) is:

    explode selector → equi-join on (key, value) → group by (service, pod)
    → keep pairs where match_count == selector_size

which shuffles on (key, value) instead of building a cartesian product.
A naive ``crossJoin + forall`` is O(|services| × |pods|) and dies at scale;
the explode form is O(matches) after the hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich_involved_object(
    events: DataFrame,
    objects: DataFrame,
    event_key: str = "ref_uid",
    object_key: str = "uid",
    prefix: str = "obj_",
) -> DataFrame:
    """J1 — event ⋈ involved object, left equi on UID
    (reference event.go:36, k8sclient.go:124-159).

    Left join: an unmatched ``ref_uid`` yields null object columns — the
    reference's cache-miss path degrades the same way rather than dropping
    the event.  Broadcast: the object dimension is small relative to the
    event stream.
    """
    dim = F.broadcast(
        objects.select(
            *[F.col(c).alias(f"{prefix}{c}") for c in objects.columns]
        )
    )
    return events.join(
        dim, events[event_key] == dim[f"{prefix}{object_key}"], "left"
    )


def node_addresses(
    events: DataFrame,
    nodes: DataFrame,
    host_col: str = "source_host",
    node_key: str = "name",
    addresses_col: str = "addresses",
    out_col: str = "address",
) -> DataFrame:
    """J2 — event ⋈ node addresses, left equi on host name
    (reference event.go:41, k8sclient.go:95-122).

    Edge semantics pinned from the reference: an empty/unmatched host gets
    an **empty array**, not null (k8sclient.go:98-100 returns ``[]string{}``
    for the miss path before the error check; event.go:41 assigns whatever
    comes back).  Broadcast, like J1's dimension.
    """
    dim = F.broadcast(
        nodes.select(
            F.col(node_key).alias("__node_name"),
            F.col(addresses_col).alias(out_col),
        )
    )
    joined = events.join(
        dim, events[host_col] == dim["__node_name"], "left"
    ).drop("__node_name")
    empty = F.array().cast("array<string>")
    return joined.withColumn(out_col, F.coalesce(F.col(out_col), empty))


def conditional_pod_enrich(
    df: DataFrame,
    kind_col: str = "obj_kind",
    prefix: str = "obj_",
) -> DataFrame:
    """J3 — conditional pod enrichment (reference event.go:68-74, 79-87).

    Not a join at all once J1 has run: if the joined object is a Pod,
    populate the flattened pod_* columns (miniPodInfo, event.go:89-98),
    else nulls.  Pure ``when`` expressions — stays in codegen.
    """
    is_pod = F.col(kind_col) == "Pod"
    null_s = F.lit(None).cast("string")
    null_t = F.lit(None).cast("timestamp_ntz")
    return (
        df.withColumn("pod_uid", F.when(is_pod, F.col(f"{prefix}uid")).otherwise(null_s))
        .withColumn("pod_name", F.when(is_pod, F.col(f"{prefix}name")).otherwise(null_s))
        .withColumn(
            "pod_namespace",
            F.when(is_pod, F.col(f"{prefix}namespace")).otherwise(null_s),
        )
        .withColumn("pod_ip", F.when(is_pod, F.col(f"{prefix}pod_ip")).otherwise(null_s))
        .withColumn(
            "pod_host_ip", F.when(is_pod, F.col(f"{prefix}host_ip")).otherwise(null_s)
        )
        .withColumn(
            "pod_start_time",
            F.when(is_pod, F.col(f"{prefix}start_time")).otherwise(null_t),
        )
    )


#: Share of the exploded pod labels ``_selective_anchor`` counts to
#: estimate how many pods each selector entry matches.
_ANCHOR_STATS_FRACTION = 0.1


def _selective_anchor(nonempty_svc: DataFrame, pod_kv: DataFrame) -> DataFrame:
    """Pick, per service, the selector entry matching the fewest pods.

    One aggregation over an ``_ANCHOR_STATS_FRACTION`` sample of the
    exploded pod labels gives an approximate count per distinct (k, v) —
    map-side combined, output cardinality = distinct label pairs.
    Sampling is sound here because the counts only drive the anchor
    CHOICE (a performance decision, never correctness — every anchor
    yields the same verified pairs), and relative frequencies survive
    uniform sampling.  The count table broadcasts onto the selector
    entries; ``min_by`` over (count, key) picks the rarest entry
    deterministically (key breaks count ties; selector keys are unique
    within a map).  An entry absent from every sampled pod gets count 0
    — maximally selective; if that estimate is wrong the join is merely
    slower, still exact.
    """
    freqs = (
        pod_kv.sample(fraction=_ANCHOR_STATS_FRACTION, seed=42)
        .groupBy("__k", "__v")
        .agg(F.count(F.lit(1)).alias("__freq"))
    )
    entries = nonempty_svc.select(
        "service_uid", "__sel", F.explode(F.col("__sel")).alias("__k", "__v")
    )
    # The hint goes on freqs: Spark cannot broadcast the stream-preserved
    # LEFT side of a left outer join (a hint there is silently dropped),
    # and freqs is small anyway — O(distinct label pairs) count rows.
    scored = (
        entries.join(F.broadcast(freqs), ["__k", "__v"], "left")
        .na.fill({"__freq": 0})
    )
    return scored.groupBy("service_uid").agg(
        F.min_by(
            F.struct("__k", "__v"), F.struct("__freq", "__k")
        ).alias("__a"),
        F.first("__sel").alias("__sel"),
    ).select(
        "service_uid",
        "__sel",
        F.col("__a.__k").alias("__k"),
        F.col("__a.__v").alias("__v"),
    )


def label_selector_join(
    services: DataFrame,
    pods: DataFrame,
    selector_col: str = "selector",
    labels_col: str = "labels",
    service_key: str = "uid",
    pod_key: str = "uid",
) -> DataFrame:
    """J4 — service ⋈ pods via k8s label-selector containment
    (reference k8sclient.go:76-89, event_service.go:10-17): pod matches iff
    every (k, v) in the service's selector appears in the pod's labels.

    Scale-safe anchor-entry equi-join (never crossJoin+forall): each
    service joins pods on ONE selector entry only — unique per service,
    so every matching pair is produced exactly once and no count-match
    aggregation (and its shuffle) is needed.  The remaining selector
    entries are verified inline with ``forall`` against the pod's labels
    map.  Returns (service_uid, pod_uid) pairs.

    The anchor is the entry whose (k, v) matches the FEWEST pods
    (``_selective_anchor``: one sampled stats pass over the exploded pod
    labels, O(distinct label pairs) output).  Candidate volume per
    service is then governed by its rarest entry, so one low-selectivity
    leading key (e.g. a 5-value "seg" label) cannot make a hot bucket
    holding 20% of all pods.  The selector side is broadcast.

    Empty-selector edge case, pinned per SURVEY §7.4: the reference formats
    an empty selector set to an empty string, and an empty k8s selector
    string lists ALL pods (k8sclient.go:78-81) — so an empty/null
    selector matches every pod.
    """
    svc = services.select(
        F.col(service_key).alias("service_uid"), F.col(selector_col).alias("__sel")
    )
    pod_ids = pods.select(F.col(pod_key).alias("pod_uid"))

    pod_kv = pods.select(
        F.col(pod_key).alias("pod_uid"),
        F.col(labels_col).alias("__lab"),
        F.explode(F.col(labels_col)).alias("__k", "__v"),
    )

    sel = _selective_anchor(svc.where(F.size(F.col("__sel")) > 0), pod_kv)
    # The anchor entry is ALREADY verified by the (__k, __v) equi-join
    # below, so the inline check only needs the REMAINING selector
    # entries.  Project them once on the (tiny, broadcast) selector
    # side — one map lookup per candidate saved always, and
    # single-entry selectors (an empty remainder) verify for free.
    # Exact same pairs: a map cannot carry the anchor key twice
    # (verified: identical 1,501,495 matched pairs at sf0.1).  A/B
    # min-of-3 at sf0.1: matched branch 3.36 → 2.07 s, full join
    # 3.20 → 1.90 s.
    sel = F.broadcast(
        sel.select(
            "service_uid",
            F.filter(
                F.map_entries(F.col("__sel")),
                lambda e: e["key"] != F.col("__k"),
            ).alias("__rest"),
            "__k",
            "__v",
        )
    )

    # A pod missing a selector key yields element_at → null → forall null,
    # which the filter treats as false: non-matching pods drop, as required.
    matched = (
        sel.join(pod_kv, on=["__k", "__v"], how="inner")
        .where(
            F.forall(
                F.col("__rest"),
                lambda e: F.element_at(F.col("__lab"), e["key"]) == e["value"],
            )
        )
        .select("service_uid", "pod_uid")
    )

    empty_sel = svc.where(
        F.col("__sel").isNull() | (F.size(F.col("__sel")) == 0)
    ).select("service_uid")
    all_pairs = F.broadcast(empty_sel).crossJoin(pod_ids)
    return matched.unionByName(all_pairs)


def pod_service_reverse_index(pairs: DataFrame) -> DataFrame:
    """J5 — pod → services reverse index (reference event_service.go:24-34).

    A pod can sit behind multiple services (the race noted in the
    reference); we return the full set per pod rather than last-write-wins.
    """
    return pairs.groupBy("pod_uid").agg(
        F.sort_array(F.collect_set("service_uid")).alias("service_uids")
    )


def service_pod_map(
    pairs: DataFrame,
    pods: DataFrame,
    pod_key: str = "uid",
    name_col: str = "name",
) -> DataFrame:
    """A1 — per-service pod map: podName → miniPodInfo-JSON
    (reference event_service.go:88-96).  ``map_from_entries(collect_list)``
    is a single shuffle on service_uid with partial aggregation map-side.

    Cost is OUTPUT-bound, not plan-bound (measured): the shuffle
    carries one JSON string per (service, pod) pair because the map
    values ARE those strings — on the fixture, empty-selector services
    match all pods (150k-entry maps, ~3M pairs total), and the 2.5 s
    this adds over the bare J4 pairs at sf0.1 is the price of
    materializing that output.  Real clusters bound map size by actual
    pods-per-service; a corpus where one group's map cannot fit a row
    needs a different CONTRACT (e.g. the (service, pod) pair stream J4
    already returns), not a different plan.
    """
    pod_info = pods.select(
        F.col(pod_key).alias("pod_uid"),
        F.col(name_col).alias("__pod_name"),
        F.to_json(
            F.struct(
                F.col(pod_key).alias("uid"),
                F.col(name_col).alias("name"),
                F.col("namespace"),
                F.col("pod_ip").alias("ip"),
                F.col("host_ip"),
            )
        ).alias("__pod_json"),
    )
    return (
        pairs.join(pod_info, "pod_uid")
        .groupBy("service_uid")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("__pod_name", "__pod_json")))
            ).alias("pod")
        )
    )


#: Pre-shard fan-out for service_pod_map_sharded's rank window: pods
#: hash into this many pre-shards per service BEFORE ranking, so a
#: mega-service's sort spreads over ``_POD_MAP_PRESHARDS`` tasks
#: instead of streaming through one.  The DuckDB oracle embeds the same
#: constant and sha256-prefix hash, so shard boundaries stay
#: hash-checked (the hash recipe is the oracle-replayable 60-bit sha256
#: prefix the IVF/LSH samplers already use).
_POD_MAP_PRESHARDS = 32


def _ranked_pod_shards(
    pairs: DataFrame,
    pods: DataFrame,
    shard_size: int,
    pod_key: str,
    name_col: str,
    preshards: int,
) -> DataFrame:
    """The deterministic shard machinery shared by
    ``service_pod_map_sharded`` and ``service_pod_shard_stats``:
    (service, pod) pairs joined to NARROW pod names, pre-shard hashed,
    locally ranked, offset-recovered, ``shard_id`` assigned — see
    ``service_pod_map_sharded`` for the order/shard contract.

    Project before the exchange: the window ranks NARROW (ids + name)
    rows and the JSON is attached broadcast-side after ranking, so the
    wide payload crosses only the final map-aggregation exchange
    instead of two.  The offsets branch re-derives the narrow pair join
    (column pruning keeps the two branches' exchanges non-identical,
    so ReusedExchange cannot fire; persisting the data-sized pair
    frame is off the table — it runs out of memory), but its
    recompute is the same narrow projection the window uses.
    """
    if preshards < 1:
        # preshards <= 0 would make the modulo yield
        # null/invalid __ps and silently corrupt ranks and shard ids —
        # fail fast, mirroring suggest_ivf_nprobe's nlist validation.
        raise ValueError("preshards must be >= 1")
    if shard_size < 1:
        raise ValueError("shard_size must be >= 1")
    pod_name = pods.select(
        F.col(pod_key).alias("pod_uid"),
        F.col(name_col).alias("__pod_name"),
    )
    joined = pairs.join(pod_name, "pod_uid").withColumn(
        "__ps",
        F.conv(
            F.substring(F.sha2(F.col("__pod_name"), 256), 1, 15), 16, 10
        ).cast("bigint")
        % preshards,
    )
    w_local = Window.partitionBy("service_uid", "__ps").orderBy("__pod_name")
    local = joined.withColumn("__rn", F.row_number().over(w_local) - 1)
    w_off = (
        Window.partitionBy("service_uid")
        .orderBy("__ps")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("service_uid", "__ps")
        .agg((F.max("__rn") + 1).alias("__cnt"))
        .withColumn(
            "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0))
        )
        .drop("__cnt")
    )
    return local.join(offsets, ["service_uid", "__ps"]).withColumn(
        "shard_id",
        F.floor((F.col("__rn") + F.col("__off")) / F.lit(shard_size)).cast(
            "bigint"
        ),
    )


def service_pod_stats(
    pairs: DataFrame,
    pods: DataFrame,
    pod_key: str = "uid",
    name_col: str = "name",
) -> DataFrame:
    """A1's declared panel — (service_uid, n_pods, first_pod) — without
    materializing the pod map.

    ``service_pod_map``'s map VALUES are per-pod JSON strings; the a1
    query consumes only ``size(map)`` and the first (minimum) key, and
    its oracle is literally ``COUNT(*), MIN(name) GROUP BY service`` —
    but Catalyst cannot prune map values back through
    ``map_from_entries``, so the map form builds, shuffles and
    assembles ~3M JSON strings per run only to count them (measured
    ~3 s of the query's 8.2 s at sf0.1; at 100 TB the waste is a full
    data-sized exchange).  This operator aggregates the NARROW
    (service_uid, pod_name) pairs directly: count = map size and
    min(name) = first sorted key whenever pod names are unique per
    service, which ``service_pod_map``'s EXCEPTION dedup policy
    already enforces for the map form.  ``service_pod_map`` remains
    the reference-parity anchor for consumers that need the maps.

    ``n_pods`` counts (service, pod) pairs; duplicate pod names behind
    one service are counted, not detected (the map form raises).
    """
    pod_name = pods.select(
        F.col(pod_key).alias("pod_uid"),
        F.col(name_col).alias("__pod_name"),
    )
    return (
        pairs.join(pod_name, "pod_uid")
        .groupBy("service_uid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pods"),
            F.min("__pod_name").alias("first_pod"),
        )
    )


def service_pod_shard_stats(
    pairs: DataFrame,
    pods: DataFrame,
    shard_size: int = 1000,
    pod_key: str = "uid",
    name_col: str = "name",
    preshards: int = _POD_MAP_PRESHARDS,
) -> DataFrame:
    """Sharded twin of ``service_pod_stats``: (service_uid, shard_id,
    n_pods, first_pod) per shard, with the IDENTICAL shard assignment
    as ``service_pod_map_sharded`` (shared ``_ranked_pod_shards``
    machinery — the rank/offset work IS the declared contract) but no
    pod-JSON broadcast attach and no map aggregation: the declared
    outputs are the shard's entry count and minimum name, so the
    final exchange carries two narrow columns instead of the
    data-sized map payload.

    ``n_pods`` counts (service, pod) pairs; duplicate pod names behind
    one service are counted, not detected (the map form raises)."""
    ranked = _ranked_pod_shards(
        pairs, pods, shard_size, pod_key, name_col, preshards
    )
    return ranked.groupBy("service_uid", "shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pods"),
        F.min("__pod_name").alias("first_pod"),
    )


def service_pod_map_sharded(
    pairs: DataFrame,
    pods: DataFrame,
    shard_size: int = 1000,
    pod_key: str = "uid",
    name_col: str = "name",
    preshards: int = _POD_MAP_PRESHARDS,
) -> DataFrame:
    """A1's 100 TB form: per-service pod map SHARDED into rows of at
    most ``shard_size`` entries.

    The reference-semantics ``service_pod_map`` materializes the map of
    ALL pods per service in one row (reference event_service.go:88-96)
    — correct to the reference and kept as the parity anchor, but the
    output row itself is data-sized (15k-entry maps at sf1, 12.4× cost
    for 10× data, GC pressure; see its docstring).  This variant keeps
    the same content while bounding every row: pods are split into
    shards of ``shard_size`` in a deterministic order, and each
    (service, shard) emits its own map plus the shard's entry count.

    Deterministic order WITHOUT a per-service global sort (a
    ``row_number`` over service_uid alone streams a whole mega-service
    through one window task): each pod hashes into
    one of ``preshards`` pre-shards (60-bit sha256 prefix of the name,
    mod ``preshards`` — replayable in SQL), ranks by name WITHIN
    (service, pre-shard), and recovers its global position as the
    pre-shard's exclusive prefix count plus the local rank.  The prefix
    counts come from a window over the per-(service, pre-shard) COUNT
    frame — ≤``preshards`` rows per service, driver-safe at any fan-out.
    Global order is therefore (pre-shard, name): deterministic, stable
    under repartitioning, just not alphabetical across pre-shards.

    Plan: one shuffle on (service_uid, __ps) for the local rank window
    and the offset join (same key — the exchange is reused), one tiny
    aggregation for the offsets, one shuffle on (service_uid, shard_id)
    for the map aggregation; every task's group is bounded by
    ~n_service_pods/preshards or ``shard_size``.  Union of all shards
    == the unsharded map (pytest-pinned).
    """
    ranked = _ranked_pod_shards(
        pairs, pods, shard_size, pod_key, name_col, preshards
    )
    # Broadcast: pods is the dim side (J1's established contract); an
    # unhinted plan shuffles the full ranked PAIR stream by pod_uid here,
    # which costs more than a wide window payload (measured 13.0 s vs
    # 9.2 s at sf0.1).
    pod_json = F.broadcast(
        pods.select(
            F.col(pod_key).alias("pod_uid"),
            F.to_json(
                F.struct(
                    F.col(pod_key).alias("uid"),
                    F.col(name_col).alias("name"),
                    F.col("namespace"),
                    F.col("pod_ip").alias("ip"),
                    F.col("host_ip"),
                )
            ).alias("__pod_json"),
        )
    )
    return (
        ranked.join(pod_json, "pod_uid")
        .groupBy("service_uid", "shard_id")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct("__pod_name", "__pod_json"))
                )
            ).alias("pod")
        )
    )


def union_streams(events_l9: DataFrame, services_l9: DataFrame) -> DataFrame:
    """U1 — union of the event and service L9 streams (reference
    main.go:84-90: both informer handlers feed the same channel).

    ``unionByName`` with missing-column fill so the two projections can
    evolve independently (service events lack pod_* columns and vice versa).
    """
    return events_l9.unionByName(services_l9, allowMissingColumns=True)
