"""Selective oracle check: `python scripts/check_queries.py name1 name2 ...`
runs only the named queries() entries against their oracle_sql() twins
using driver_sim's OWN compare (imported, not duplicated — the
selective checker can never drift from the full gate).  Optional env
SPARK_GRAFT_SF_DIR overrides the sf0.01 default.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from scripts.driver_sim import compare_query, make_oracle_connection

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    names = sys.argv[1:]
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("check_queries")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = make_oracle_connection(SF_DIR)

    failed = []
    for name in names:
        t0 = time.time()
        rec = compare_query(spark, con, queries, oracles, name, SF_DIR)
        wall = f"wall={time.time() - t0:.1f}s"
        if "err" in rec:
            failed.append(name)
            print(f"{name:32s} ERROR\n{rec['err']}")
        elif rec.get("rows_only"):
            print(f"{name:32s} rows-only spark={rec['spark_rows']} {wall}")
        elif rec.get("hash_match"):
            print(f"{name:32s} OK spark={rec['spark_rows']} "
                  f"oracle={rec['oracle_rows']} {wall}")
        else:
            failed.append(name)
            print(f"{name:32s} MISMATCH spark={rec['spark_rows']} "
                  f"oracle={rec.get('oracle_rows')} {wall}")
            print(f"  {rec.get('first_diff', '')}")
    if failed:
        sys.exit(f"FAILED: {failed}")
    print("all OK")


if __name__ == "__main__":
    main()
