"""Negative controls for the oracle-comparison harness itself.

Every green row in CORRECTNESS_r*.json flows through a compare of the
shape in ``scripts/check_oracle.py`` — if ``compare``/``normalize``
ever became vacuous (a refactor that drops a column from the loop, an
astype that maps mismatches to equal strings), the whole correctness
story would silently stop meaning anything while staying green.  These
tests feed the harness deliberately perturbed frames and assert it
REJECTS them, plus the equivalences it must tolerate (row order,
column order, NaN-vs-NaN) so it can't be "fixed" into strictness that
breaks real runs.  Pure pandas — no Spark, no DuckDB, milliseconds.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pandas as pd
import pytest

_spec = importlib.util.spec_from_file_location(
    "check_oracle",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "check_oracle.py",
    ),
)
check_oracle = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("check_oracle", check_oracle)
_spec.loader.exec_module(check_oracle)
compare = check_oracle.compare


def _df(**cols) -> pd.DataFrame:
    return pd.DataFrame(dict(cols))


def test_identical_frames_pass():
    a = _df(k=[1, 2], v=[0.5, 1.5], s=["x", "y"])
    assert compare("t", a, a.copy()) == "OK"


def test_row_and_column_order_insensitive():
    a = _df(k=[1, 2], v=[0.5, 1.5])
    b = _df(v=[1.5, 0.5], k=[2, 1])  # both orders permuted
    assert compare("t", a, b) == "OK"


def test_row_count_mismatch_rejected():
    assert compare("t", _df(k=[1, 2]), _df(k=[1])).startswith("ROWS")


def test_column_name_mismatch_rejected():
    # the aliasing contract: same values under a different column name
    # must NOT pass (the driver sorts columns by name before hashing)
    assert compare("t", _df(sum_qty=[1]), _df(total=[1])).startswith(
        "COLS"
    )


def test_int_value_mismatch_rejected():
    assert compare("t", _df(k=[1, 2]), _df(k=[1, 3])).startswith("VAL")


def test_string_value_mismatch_rejected():
    assert compare("t", _df(s=["a", "b"]), _df(s=["a", "c"])).startswith(
        "VAL"
    )


def test_float_bitwise_not_tolerance():
    # one ulp apart must be rejected — the driver hashes canonical
    # strings, so "close" is not equal
    x = 1.0000000000000002  # nextafter(1.0)
    assert compare("t", _df(v=[1.0]), _df(v=[x])).startswith("VAL")


def test_signed_zero_rejected_nan_accepted():
    # -0.0 == 0.0 under ==, but they canonicalize differently — the
    # bitwise compare must catch it; NaN vs NaN must pass (drivers
    # canonicalize NaN to one token)
    assert compare("t", _df(v=[0.0]), _df(v=[-0.0])).startswith("VAL")
    assert compare("t", _df(v=[np.nan]), _df(v=[np.nan])) == "OK"


def test_null_vs_value_rejected_null_vs_null_accepted():
    a = _df(s=pd.array(["a", None], dtype=object))
    b = _df(s=pd.array(["a", "None"], dtype=object))
    # None must not compare equal to the literal string "None"
    assert compare("t", a, b).startswith("VAL")
    c = _df(s=pd.array(["a", None], dtype=object))
    assert compare("t", a, c) == "OK"


def test_nan_vs_number_rejected():
    assert compare("t", _df(v=[np.nan]), _df(v=[1.0])).startswith("VAL")


@pytest.mark.parametrize("perturb", ["drop_dup", "swap_within_col"])
def test_multiset_semantics(perturb):
    # order-insensitive but MULTISET: duplicated rows count, and
    # per-column independent re-sorting must not mask a row-level swap
    # that changes the multiset of (k, v) tuples
    a = _df(k=[1, 1, 2], v=[10, 10, 20])
    if perturb == "drop_dup":
        b = _df(k=[1, 2, 2], v=[10, 20, 20])
        assert compare("t", a, b).startswith("VAL")
    else:
        b = _df(k=[1, 1, 2], v=[10, 20, 10])
        # same column multisets, different row tuples: (1,20) never
        # occurred in a.  normalize() sorts whole rows, so this must
        # be rejected.
        assert compare("t", a, b).startswith("VAL")


def test_unknown_query_name_exits_2_before_spark(monkeypatch, capsys):
    # A stale name must fail the run, not be skipped into a green exit.
    def no_spark(*a, **k):
        raise AssertionError("get_spark called for an unknown query name")

    monkeypatch.setattr(
        check_oracle.entrymod, "queries", lambda: {"q_real": None}
    )
    monkeypatch.setattr(check_oracle, "get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv", ["check_oracle.py", "/nonexistent", "q_real", "q_gone"]
    )
    assert check_oracle.main() == 2
    out = capsys.readouterr().out
    assert "q_gone" in out and "q_real" not in out
