"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

A query is a full registry name (``q05_semi_join``) or its bare ``qNN``
id (``q05``).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entry_mod
from gfw_pixetl_spark.harness.compare import compare_results, register_duckdb_views
from gfw_pixetl_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    register_duckdb_views(con, sf_dir)

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    failures = []
    # a bare qNN id selects the registry name with that qNN_ prefix
    qid = {n: n.split("_", 1)[0] for n in queries}
    run = [n for n in queries if not only or n in only or qid[n] in only]
    unknown = sorted(only - set(queries) - set(qid.values()))
    if unknown:
        print(f"WARNING: not in registry: {unknown}")
    for name in run:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"okNO {name}: rows={len(srows)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            orel = con.execute(oracles[name])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = compare_results(scols, [tuple(r) for r in srows], ocols, orows)
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {problems[0]}")
        else:
            print(f"ok   {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")

    # summarize over the queries actually RUN (the `only` subset when
    # given), not the whole registry — the registry-wide denominator
    # misreported subset invocations (VERDICT r5 "what's wrong" #3)
    missing_oracle = [n for n in run if n not in oracles]
    scope = f" (of {len(queries)} registered)" if only else ""
    print(f"\n{len(run)} queries checked{scope}, {len(failures)} failures, "
          f"{len(missing_oracle)} rows-only: {missing_oracle}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
