"""Local replica of the driver's correctness gate.

Runs every registered query through Spark AND its oracle SQL through DuckDB
over the same parquet fixtures, then compares:
  1. row count
  2. schema (column names, sorted)
  3. order-insensitive value comparison (exact; floats must already be
     rounded inside the queries themselves — see plans/tpch.py float policy)

Runs under a VANILLA SparkSession by default — the same environment the
driver's gate uses — so conf-dependent behavior differences can't pass
locally and fail the gate. Pass --tuned to use the engine session
(session.get_session) for bench-style runs.

Usage:  python tools/check_parity.py [--tuned] [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, ".")

from mariadb_columnstore_engine_spark.oracle import (
    duckdb_connect,
    oracle_rows,
    problems,
)
from mariadb_columnstore_engine_spark.plans import load_all
from mariadb_columnstore_engine_spark.session import get_session


def main() -> int:
    args = sys.argv[1:]
    tuned = "--tuned" in args
    args = [a for a in args if a != "--tuned"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    filters = args[1:]
    specs = load_all()
    if filters and all(f in specs for f in filters):
        # every filter is an exact registry name → exact selection (so
        # a name that prefixes another, e.g. setop_intersect vs
        # setop_intersect_all, can't pull in strays when a sweep is run
        # in chunks of exact names)
        names = [n for n in specs if n in set(filters)]
    else:
        names = [
            n for n in specs if not filters or any(f in n for f in filters)
        ]

    con = duckdb_connect(sf_dir)

    if tuned:
        spark = get_session("parity-check")
    else:  # replicate the driver's vanilla session
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("parity-check-vanilla")
            .master("local[8]")
            .getOrCreate()
        )
    spark.sparkContext.setLogLevel("ERROR")

    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        # Caches some plans create (LSH signature tables, cluster
        # frontiers) must not accumulate across 180 queries — at sf1 the
        # pile-up exhausts the heap (GCLocker retry cascade) and fails
        # every query after it. One query, one cache lifetime. The
        # gc.collect() drops Python refs to the previous query's
        # localCheckpoint DataFrames so the JVM ContextCleaner can
        # release their storage blocks too (clearCache alone leaves
        # checkpoint RDDs pinned).
        import gc

        spark.catalog.clearCache()
        gc.collect()
        try:
            # Python gc alone isn't enough: the JVM only releases the
            # previous query's localCheckpoint storage blocks once ITS
            # GC collects the RDD handles py4j just dropped. Without
            # this, the broadcast-build memory check fails mid-sweep at
            # sf1 ("Not enough memory to build and broadcast").
            spark._jvm.System.gc()
        except Exception:
            pass
        try:
            try:
                sdf = spec.fn(spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
            except Exception as first_exc:
                # One retry after a deep GC — but ONLY for the GC-timing
                # signature: in a shared JVM the broadcast-build memory
                # check can fail because storage blocks of the previous
                # query's checkpoints are not yet released, not on real
                # pressure. Deterministic failures (analysis errors,
                # bad plans) fall through immediately so the first
                # traceback is the one reported and the sweep doesn't
                # pay double wall-clock on heavy plans.
                msg = str(first_exc)
                gc_timing = (
                    "Not enough memory to build and broadcast" in msg
                    or "OutOfMemoryError" in msg
                    or "Java heap space" in msg
                )
                if not gc_timing:
                    raise
                spark.catalog.clearCache()
                gc.collect()
                try:
                    spark._jvm.System.gc()
                except Exception:
                    pass
                time.sleep(2)
                sdf = spec.fn(spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            otable, orows = oracle_rows(con, spec.oracle)
        except Exception:
            print(f"FAIL  {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        probs = problems(name, sdf, srows, otable, orows)
        if probs:
            print(f"FAIL  {name}: {'; '.join(probs)}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} failed, "
          f"{len(names)} total")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
