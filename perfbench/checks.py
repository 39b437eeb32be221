"""Correctness checks, run outside every timed interval.

* ``result_digest`` — an order-insensitive digest of a query result.  It
  normalizes the frame the way ``scripts/check_oracle.py`` does (columns
  sorted by name, timestamps tz-naive, non-string objects stringified,
  rows sorted) and hashes floats by their bit pattern, so two results get
  the same digest exactly when that check would call them equal.
* ``canonical_record`` — one sink record as a canonical JSON string, so
  the Flusher's NDJSON and the batch binding's rows compare as multisets.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: str(v) if v is not None and not isinstance(v, str) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def result_digest(df: pd.DataFrame) -> str:
    a = normalize(df)
    h = hashlib.sha256()
    h.update(json.dumps([list(a.columns), len(a)]).encode())
    for c in a.columns:
        col = a[c]
        h.update(c.encode())
        if pd.api.types.is_float_dtype(col):
            v = np.ascontiguousarray(col.astype(float).to_numpy())
            bits = v.view(np.int64).copy()
            bits[np.isnan(v)] = 0x7FF8000000000000  # one token for every NaN
            h.update(bits.tobytes())
        else:
            s = col.where(col.notna(), "<null>").astype(str)
            h.update("\x1f".join(s).encode())
    return h.hexdigest()


def canonical_record(rec: dict[str, Any]) -> str:
    """A sink record with null fields dropped (the JVM JSON writer omits
    them; the Flusher writes them) and keys sorted."""
    return json.dumps(
        {k: v for k, v in rec.items() if v is not None},
        sort_keys=True,
        separators=(",", ":"),
        default=str,
    )
