"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same sf dir, compare row count + column names + order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from k8stream_spark.schemas import FIXTURE_TABLES  # noqa: E402
from k8stream_spark.session import get_spark  # noqa: E402


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


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str:
    if len(spark_df) != len(oracle_df):
        return f"ROWS {len(spark_df)} vs {len(oracle_df)}"
    a, b = normalize(spark_df), normalize(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"COLS {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            # BITWISE equality, not ==: the driver hashes a canonical
            # string of each value, and == is weaker than any such hash
            # (-0.0 == 0.0 yet they canonicalize differently).  Two
            # doubles that agree bit-for-bit hash equal under every
            # deterministic scheme, so this can't pass where the driver
            # fails.  NaNs compare equal regardless of payload (drivers
            # canonicalize NaN to one token).
            aa = np.ascontiguousarray(av.astype(float).to_numpy())
            bb = np.ascontiguousarray(bv.astype(float).to_numpy())
            both_nan = np.isnan(aa) & np.isnan(bb)
            bit_eq = aa.view(np.int64) == bb.view(np.int64)
            if not np.all(both_nan | bit_eq):
                bad = ~(both_nan | bit_eq)
                i = int(np.argmax(bad))
                # maxdiff only over rows where both sides are numbers:
                # NaN-vs-number mismatches (or NaN-payload diffs) would
                # make nanmax warn on an all-NaN slice; fall back to the
                # first bad row's raw bit patterns instead.
                num = bad & ~np.isnan(aa) & ~np.isnan(bb)
                detail = (
                    f"maxdiff {np.abs(aa[num] - bb[num]).max()}"
                    if num.any()
                    else f"bits {aa.view(np.int64)[i]:#x} vs "
                    f"{bb.view(np.int64)[i]:#x}"
                )
                return f"VAL col {c} row {i}: {aa[i]!r} vs {bb[i]!r} ({detail})"
        else:
            # Replace NA BEFORE astype(str): astype maps None->'None' and
            # NaN->'nan', which would compare equal to those literal strings.
            sa = av.where(av.notna(), "<null>").astype(str)
            sb = bv.where(bv.notna(), "<null>").astype(str)
            eq = sa == sb
            na_eq = av.isna() & bv.isna()
            if not bool((eq | na_eq).all()):
                i = int((~(eq | na_eq)).idxmax())
                return f"VAL col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    # A misspelled or stale name would otherwise be skipped silently and
    # the run would still exit 0.
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {' '.join(unknown)}")
        return 2
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # DuckDB shares the box with a 100+GB-heap JVM: cap its threads and
    # memory and give it a spill directory, or the heavy recursive-CTE
    # oracles (CC reachability over the LSH replay) die with a hard
    # allocator/thread-spawn failure at sf0.1 instead of spilling.
    con.execute("SET threads=8")
    con.execute("SET memory_limit='24GB'")
    con.execute("SET temp_directory='/tmp/duckdb-spill'")
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:40s} SPARK-ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        finally:
            # LSH/IVF queries persist intermediates for their own plan
            # reuse; release them so 60 queries don't stack dead caches.
            spark.catalog.clearCache()
            # clearCache() cannot free broadcast blocks / shuffle files;
            # the ContextCleaner reaps them only after a driver GC (the
            # bench.py housekeeping lesson).  Without this, a long sf1
            # sweep accumulates litter until a data-sized query (a1's
            # reference-semantics pod map) OOMs the 8g heap.
            spark.sparkContext._jvm.System.gc()
        if name not in oracles:
            print(f"{name:40s} rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"{name:40s}   WARNING: 0 rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"{name:40s} ORACLE-ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        verdict = compare(name, sdf, odf)
        print(f"{name:40s} {verdict} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
        if verdict != "OK":
            failures += 1
    # entry smoke
    t0 = time.time()
    n = entrymod.entry(spark).count()
    print(f"{'entry()':40s} {n} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
