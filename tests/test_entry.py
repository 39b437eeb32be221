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
    # hll_user_counts)
    "dedup.minhash_signature",  # signature stage of minhash_lsh_pairs
    "dedup.minhash_band_table",  # banding stage, persisted per corpus
    # version by the streaming gate
    "similarity.suggest_lsh_params",  # driver-side (bits, tables)
    # arithmetic — no DataFrame surface to grade
    "similarity.suggest_ivf_nprobe",  # driver-side nprobe arithmetic,
    # the IVF twin of suggest_lsh_params
    "dedup.simhash",  # signature stage of simhash_pairs
    "dedup.word_shingles",  # shingling helper for minhash/jaccard
    "similarity.bucket_keys",  # LSH hyperplane bucketing helper
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


# An oracle output column whose DuckDB type has no Spark twin hashes
# red even when the values are identical: a bare SUM(BIGINT) is HUGEINT
# (int128), and DECIMAL survives ROUND/means — both canonicalize
# differently from Spark's bigint/double in the oracle value hash.
# Bind every oracle through DuckDB and reject the types at test time,
# not grading time.
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
# Rotation staleness: a green query whose code path changed since its
# newest grade sorts with the never-graded queries.
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
    """On a controlled graded tree that differs from HEAD in exactly one
    ``_q_`` source and one owned module blob, the stale set is exactly
    the green names owning either; an unchanged green query and a red
    owner stay unflagged.  A second changed blob owned only through an
    entry helper flags the queries built on that helper."""
    import re

    reg = dict(entrymod.queries())
    with open(entrymod.__file__, encoding="utf-8") as fh:
        head_text = fh.read()
    cur_fns = entrymod._fn_sources(head_text)
    changed_fn = "_q_pq_encode"
    changed_mod = "k8stream_spark/analytics/multimodal.py"
    # only the registry names the changed query function, so only the
    # names registered with it own that change
    assert [n for n, src in cur_fns.items()
            if re.search(rf"\b{changed_fn}\b", src)] == [changed_fn, "queries"]
    seg = cur_fns[changed_fn]
    graded_text = head_text.replace(
        seg, seg.replace(f"def {changed_fn}(", f"def {changed_fn}( ", 1), 1
    )

    def git_out(args):
        assert args == ["show", "GRADED:__spark_entry__.py"], args
        return graded_text

    changed_mods = {changed_mod}

    def blobs_at(treeish, paths):
        assert treeish == "GRADED"
        return {p: ("old" if p in changed_mods else "now") + p for p in paths}

    monkeypatch.setattr(entrymod, "_grade_treeish", lambda rnd: "GRADED")
    monkeypatch.setattr(entrymod, "_git_out", git_out)
    monkeypatch.setattr(entrymod, "_blobs_at", blobs_at)
    monkeypatch.setattr(entrymod, "_blob_now", lambda p: "now" + p)
    monkeypatch.setattr(entrymod, "_STALE_CACHE", None)

    def fname(n):
        return getattr(reg[n], "__name__", "")

    fn_owners = {n for n in reg if fname(n) == changed_fn}
    mod_owners = {
        n for n in reg
        if fname(n) in cur_fns
        and re.search(r"\bmultimodal\.", cur_fns[fname(n)])
    }
    assert fn_owners and len(mod_owners) >= 2
    red = min(mod_owners)
    graded = {n: (16, n != red) for n in reg}
    stale = entrymod._changed_since_grade(reg, graded)
    assert stale == (fn_owners | mod_owners) - {red}
    assert "q1_pricing_summary" in reg
    assert "q1_pricing_summary" not in stale

    # A module reached only through an entry helper is owned too:
    # p1's ``_q_`` body never names load_table, its ``_k8s_events``
    # helper does.
    changed_mods.add("k8stream_spark/sources/fixtures.py")
    assert "load_table" not in cur_fns[fname("p1_namespace_blacklist")]
    monkeypatch.setattr(entrymod, "_STALE_CACHE", None)
    stale2 = entrymod._changed_since_grade(reg, graded)
    assert "p1_namespace_blacklist" in stale2
    assert stale <= stale2 and red not in stale2


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


# One-line, decorated, async and redefined defs; multi-byte UTF-8 before
# and inside the cut columns; CRLF, lone CR and LF line ends; form feeds
# on a blank line and inside a string literal (not line ends); a class
# method (not top-level) and a last line with no line end.
_SYNTH_MODULE = (
    "import os\r\n"
    "def one(): return 'é中'  # trailing ü comment\r\n"
    "\x0c\r\n"
    "@staticmethod\r\n"
    "@functools.cache\r\n"
    "def decorated(x='ß'):\r\n"
    "    return x + \"a\x0cb\"  # ε\r\n"
    "\r\n"
    "async def coro(a,\r\n"
    "               b='日本'):\r"
    "    \x0c\r\n"
    "    return await a(b)\n"
    "class C:\n"
    "    def method(self): pass\n"
    "def one(): return 'redefined'\n"
    "def last(): return 'ñ'"
)


def test_fn_sources_matches_ast_segments_on_edge_cases():
    import ast

    got = entrymod._fn_sources(_SYNTH_MODULE)
    want = {
        n.name: ast.get_source_segment(_SYNTH_MODULE, n)
        for n in ast.parse(_SYNTH_MODULE).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert list(got) == list(want) == ["one", "decorated", "coro", "last"]
    assert got == want
    assert got["one"] == "def one(): return 'redefined'"


def test_fn_sources_matches_ast_segments_on_entry_module():
    """Every 10th top-level def of the real module (ast's per-def
    re-split makes the full comparison cost ~10 s)."""
    import ast

    text = open(entrymod.__file__, encoding="utf-8").read()
    got = entrymod._fn_sources(text)
    defs = [
        n for n in ast.parse(text).body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    assert list(got) == [n.name for n in defs]
    for n in defs[::10]:
        assert got[n.name] == ast.get_source_segment(text, n), n.name


def test_fn_sources_is_fast_on_entry_module():
    """The registry build runs this once per graded file version; a
    line split per def (quadratic) took 10-12 s on a 4-core box."""
    import time

    text = open(entrymod.__file__, encoding="utf-8").read()
    t0 = time.perf_counter()
    got = entrymod._fn_sources(text)
    assert time.perf_counter() - t0 < 3.0
    assert len(got) > 100


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
