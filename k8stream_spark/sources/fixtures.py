"""Loaders for the driver-generated parquet fixture tables (TESTDATA.md).

Thin ``spark.read.parquet`` wrappers — Parquet gives Catalyst column
pruning and predicate pushdown for free, so operators downstream stay
declarative and the scan only reads what the plan needs.

Nanosecond-timestamp handling: the driver wrote TIMESTAMP(NANOS) parquet,
which Spark refuses by default (PARQUET_TYPE_ILLEGAL).  We flip the
``spark.sql.legacy.parquet.nanosAsLong`` session conf (safe to set at
runtime) and convert each nano column to ``timestamp_ntz`` with integer
``div 1000`` — nanos since epoch exceed 2^53, so double division would
silently lose precision; integer division truncates to microseconds
exactly like DuckDB's nanos→micros read path, keeping the oracle
comparison exact.  The nano columns are detected once per table from the
parquet footer (driver-side, no data read).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k8stream_spark.schemas import FIXTURE_TABLES


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns], from the footer only."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_TABLES:
        raise ValueError(f"unknown fixture table {name!r}; one of {FIXTURE_TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Deliberate session-level requirements (the driver's harness session
    # may not come from get_spark): nanosAsLong is mandatory to read the
    # TIMESTAMP(NANOS) fixtures at all, and epoch-seconds operators cast
    # NTZ through TIMESTAMP so results are only oracle-comparable under
    # UTC.  Check-before-set to avoid churning a session that's already
    # configured; callers needing another tz must restore it themselves.
    for key, want in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)
    df = spark.read.parquet(path)
    for col in _nano_timestamp_columns(path):
        df = df.withColumn(
            col,
            F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                "timestamp_ntz"
            ),
        )
    return df

