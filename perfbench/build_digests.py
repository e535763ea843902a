"""Rebuild ``perfbench/expected.json``, the expected output of every
``query_mix`` key on the benchmark's tables.

Keys with an ``oracle_sql()`` entry get the digest of the DuckDB oracle's
result: row count plus value hash. Rows-only keys (no oracle) pin the row
count Spark returns. The Spark digest of every oracle key is compared
with the DuckDB one; a mismatch is printed and the tool exits nonzero.

Usage: python3 perfbench/build_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import batch, datagen  # noqa: E402
from perfbench.run import Run  # noqa: E402
from perfbench.stats import digest  # noqa: E402


def main() -> int:
    import duckdb

    run = Run("build_digests", 0, 0, False)
    run.configure_env()
    data = datagen.ensure(os.path.join(run.work, f"data-v{datagen.VERSION}"))
    import __spark_entry__ as entry
    from reactor_window_like_flink_spark.session import get_spark

    run.spark = get_spark(app_name="perfbench-digests")
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for table in datagen.TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
    expected, bad = {}, []
    try:
        for key in sorted(batch.KEYS + batch.TRACED_KEYS):
            got = digest(queries[key](run.spark, data).toPandas())
            if key in oracles:
                want = digest(con.sql(oracles[key]).df())
                if got != want:
                    bad.append(f"{key}: spark {got} != duckdb {want}")
                expected[key] = {**want, "source": "duckdb"}
            else:
                expected[key] = {"rows": got["rows"], "sha256": None, "source": "spark rows-only"}
            print(key, expected[key], file=sys.stderr)
    finally:
        run.close()
        run.cleanup()
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    for line in bad:
        print("MISMATCH", line, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
