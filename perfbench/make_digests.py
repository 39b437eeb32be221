"""Write ``perfbench/digests.json``: the expected result digest of every
query the benchmark runs, from the DuckDB ``oracle_sql()`` of each query
over the generated fixture tables.

Each digest is also checked against a Spark run of the query.  A query
whose oracle fails keeps the Spark digest, labelled ``"clean-run"``, and a
query whose two digests disagree is reported and stored as the oracle's
digest, so the benchmark counts that query as failing.

Run from the repository root:  python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from worker import DEDUP_QUERIES  # noqa: E402


def main() -> int:
    import duckdb

    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entry
    from k8stream_spark.session import get_spark

    sf = os.path.join(os.getcwd(), ".perfbench", "fixtures")
    fingerprint = gen.write_fixtures(sf)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in gen.TABLE_ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    spark = get_spark("perfbench-digests")
    qs, oracles = entry.queries(), entry.oracle_sql()
    out: dict[str, dict] = {}
    for name in DEDUP_QUERIES:
        got = checks.result_digest(qs[name](spark, sf).toPandas())
        spark.catalog.clearCache()
        try:
            want = checks.result_digest(con.execute(oracles[name]).fetchdf())
            out[name] = {"digest": want, "source": "duckdb-oracle"}
            status = "OK" if want == got else "MISMATCH (spark differs from oracle)"
        except duckdb.Error as exc:
            out[name] = {"digest": got, "source": "clean-run"}
            status = f"clean-run (oracle failed: {exc})"
        print(f"{name:32s} {status}")
    spark.stop()
    with open(os.path.join(HERE, "digests.json"), "w", encoding="utf-8") as fh:
        json.dump({"fixture_fingerprint": fingerprint, "queries": out}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
