"""Local replica of the driver's correctness gate.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]

Uses a BARE SparkSession (no engine confs) by default — the driver
supplies its own session, so the replica must prove every query is
session-portable (the round-1 nanos failure mode). Pass --configured to
use the engine's tuned session instead.
"""

from __future__ import annotations

import os
import sys
import traceback

# not tools/: its profile.py would shadow the stdlib one pyspark imports
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from geoscan_fraud_spark.testing.oracle import compare_query, duckdb_connection


def _bare_session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .appName("oracle-check-bare")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )


def main():
    args = [a for a in sys.argv[1:] if a != "--configured"]
    configured = "--configured" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e

    if configured:
        from geoscan_fraud_spark import get_spark

        spark = get_spark(app_name="oracle-check")
    else:
        spark = _bare_session()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    counts = {"pass": 0, "fail": 0}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            if name not in oracles:
                status, msg = "fail", "registered entry has no resolved oracle"
            else:
                status, msg = compare_query(spark, con, fn, oracles[name], sf_dir)
        except Exception:
            status, msg = "fail", "raised"
            traceback.print_exc(limit=5)
        counts[status] += 1
        print(f"{status.upper():9s} {name}: {msg}")

    print(f"\n{counts['pass']} pass / {counts['fail']} fail")
    sys.exit(1 if counts["fail"] else 0)


if __name__ == "__main__":
    main()
