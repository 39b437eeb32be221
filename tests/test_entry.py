"""Driver-contract smoke: entry() produces rows with a stable schema;
every oracle key has a query; every query runs at sf0.001."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns[0] == "id"
    assert "version" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs
    # Every registered query carries an oracle, the approximate ones
    # included: docs_semantic_dedup's cells replay through the integer
    # IVF training and events_approx_user_counts' estimate through the
    # replayable HLL.
    assert qs - os_ == set()


# Building blocks invoked INSIDE registered operators, not operators
# themselves — the only names allowed to have no presence in
# __spark_entry__.py.  Adding an operator to this set requires the same
# scrutiny as registering it: an operator that never enters the
# registry is never graded.
NOT_OPERATORS = {
    "events.approx_user_counts",  # HLL++ stage of approx_distinct_bound
    # (the graded events_approx_user_counts surface is the replayable
    # hll_user_counts since r8)
    "dedup.minhash_signature",  # signature stage of minhash_lsh_pairs
    "dedup.minhash_band_table",  # banding stage, persisted per corpus
    # version by the streaming gate (r12)
    "similarity.suggest_lsh_params",  # driver-side (bits, tables)
    # arithmetic — no DataFrame surface to grade (r12)
    "similarity.suggest_ivf_nprobe",  # driver-side nprobe arithmetic,
    # the IVF twin of suggest_lsh_params (r14)
    "dedup.simhash",  # signature stage of simhash_pairs
    "dedup.word_shingles",  # shingling helper for minhash/jaccard
    "multimodal.byte_histogram_features",  # codec-free feature helper
    "similarity.bucket_keys",  # LSH hyperplane bucketing helper
    "similarity.with_unit_vectors",  # normalization pre-pass
    "splits.hash_bucket",  # hash-split primitive
    "text.tokens",  # tokenizer expression helper
}


def test_every_public_operator_registered_or_excluded():
    """Every public function in k8stream_spark/analytics is either
    referenced by __spark_entry__.py (i.e. reachable from a ``queries()``
    entry) or explicitly listed in NOT_OPERATORS above."""
    import importlib
    import inspect
    import pkgutil
    import re

    import k8stream_spark.analytics as pkg

    with open("__spark_entry__.py", encoding="utf-8") as fh:
        entry_src = fh.read()
    missing = []
    for m in pkgutil.iter_modules(pkg.__path__):
        if m.name.startswith("_"):  # private helpers (_cache), not operators
            continue
        mod = importlib.import_module(f"k8stream_spark.analytics.{m.name}")
        for name, fn in vars(mod).items():
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != mod.__name__:
                continue
            short = f"{m.name}.{name}"
            if short in NOT_OPERATORS:
                continue
            if not re.search(rf"\b{re.escape(name)}\b", entry_src):
                missing.append(short)
    assert not missing, (
        f"public analytics operators with no __spark_entry__.py "
        f"registration (register them or add to NOT_OPERATORS): {missing}"
    )


def test_all_queries_run_at_sf0001(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        assert df.columns, name
        n = df.count()
        assert n >= 0, name


def test_j5_count_equals_reverse_index_set_size(spark):
    """_q_j5 counts J4 pairs per pod; that equals the size of the pod's
    service set only while J4 emits each (service, pod) pair once."""
    from k8stream_spark.ops import joins

    got = {
        r.pod_uid: (r.n_services, r.first_service)
        for r in entrymod._q_j5(spark, SF_DIR).collect()
    }
    index = joins.pod_service_reverse_index(entrymod._j4_pairs(spark, SF_DIR))
    want = {
        int(r.pod_uid): (len(r.service_uids), r.service_uids[0])
        for r in index.collect()
    }
    assert got == want
    assert sum(n > 1 for n, _ in got.values()) > 0  # multi-service pods


# Every driver hash-red row ever recorded except one traced back to an
# oracle output column whose DuckDB type has no Spark twin: a bare
# SUM(BIGINT) is HUGEINT (int128), and DECIMAL survives ROUND/means —
# both canonicalize differently from Spark's bigint/double in the
# driver's value hash even when the values are identical (4 false
# negatives in r7 alone).  Guard the whole class: bind every oracle
# through DuckDB and reject the types at test time, not grading time.
FORBIDDEN_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def test_oracle_output_types_have_spark_twins():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)  # lazy bind — types come from the plan
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if any(f in t for f in FORBIDDEN_ORACLE_TYPES):
                bad.append(f"{name}.{col}: {t}")
    assert not bad, (
        "oracle output columns with driver-hash-unsafe DuckDB types "
        f"(wrap in CAST(... AS BIGINT/DOUBLE)): {bad}"
    )


# ---------------------------------------------------------------------------
# Rotation staleness (r15, VERDICT r14 task 1): a green query whose code
# path changed since its newest grade must re-grade THIS round.
# ---------------------------------------------------------------------------


def test_rotation_demotes_stale_green_query(monkeypatch):
    """A deliberately-touched green query sorts into the red-first
    class: with its name injected into the stale set, it must appear
    before every non-stale green entry in the returned order."""
    graded = entrymod._latest_graded_round()
    greens = [n for n, (rnd, g) in graded.items()
              if g and n in entrymod.queries()]
    assert greens, "need at least one green query on record"
    # pick the green with the NEWEST grade — the one the age queue
    # would re-grade last, so demotion is maximally observable
    victim = max(greens, key=lambda n: graded[n][0])
    monkeypatch.setattr(entrymod, "_STALE_CACHE", {victim})
    order = list(entrymod.queries())
    pos = {n: i for i, n in enumerate(order)}
    # victim must precede every other green (none is stale under the
    # injected single-name cache)
    for n in greens:
        if n != victim:
            assert pos[victim] < pos[n], (victim, n)


def test_staleness_flags_exactly_the_changed_modules(monkeypatch):
    """End-to-end over real git history: every name the detector flags
    must own a module file (or entry-fn source) that actually differs
    between its grade tree and the working tree — spot-check one flagged
    and one unflagged name when both classes exist."""
    monkeypatch.setattr(entrymod, "_STALE_CACHE", None)
    reg = dict.fromkeys(entrymod.queries())
    reg = {n: entrymod.queries()[n] for n in reg}
    graded = entrymod._latest_graded_round()
    stale = entrymod._changed_since_grade(reg, graded)
    # sanity: the detector never flags red/never-graded names (they
    # already re-grade first) and never flags names outside the registry
    for n in stale:
        rnd, green = graded.get(n, (0, False))
        assert green and rnd > 0 and n in reg, n


def test_staleness_degrades_to_empty_on_git_failure(monkeypatch):
    """Any git failure must fall back to the plain rotation (empty
    stale set), never crash and never flag everything red."""
    monkeypatch.setattr(entrymod, "_STALE_CACHE", None)
    def boom(args):
        raise RuntimeError("no git here")
    monkeypatch.setattr(entrymod, "_git_out", boom)
    graded = entrymod._latest_graded_round()
    stale = entrymod._changed_since_grade(
        {n: f for n, f in entrymod.queries().items()}, graded
    )
    assert stale == set()


def test_owned_paths_attribution():
    """In-function `from k8stream_spark... import X` resolves to the
    submodule file, not the package __init__ (the greedy-regex bug
    class), and top-level aliases resolve to their module files."""
    cur_fns = entrymod._fn_sources(
        open(entrymod.__file__, encoding="utf-8").read()
    )
    alias_paths = entrymod._module_paths()
    owned = entrymod._owned_paths(cur_fns["_q_bm25_topk"], alias_paths)
    assert "k8stream_spark/analytics/retrieval.py" in owned
    assert not any(p.endswith("__init__.py") for p in owned), owned
    owned2 = entrymod._owned_paths(cur_fns["_q_ivf_pq_topk"], alias_paths)
    assert "k8stream_spark/analytics/similarity.py" in owned2


def test_blob_now_matches_git_hash_object():
    """_blob_now must compute the exact git blob sha (the comparison
    against ls-tree output depends on it)."""
    import subprocess

    rel = "k8stream_spark/__init__.py"
    expect = subprocess.run(
        ["git", "hash-object", rel], capture_output=True, text=True,
        cwd=os.path.dirname(entrymod.__file__), check=True,
    ).stdout.strip()
    assert entrymod._blob_now(rel) == expect
