"""Concurrent-session parity probe (r11; full-registry + writer r12).

The reference is a MULTI-USER engine: ExeMgr/PrimProc serve many
sessions at once (dbcon/joblist/distributedenginecomm.cpp maintains
per-session job queues; mysql-test runs whole suites against a shared
server), and it is a concurrent READ/WRITE engine — DML flows through
dbcon/dmlpackageproc while the BRM version buffer keeps readers on a
consistent snapshot (versioning/BRM/dbrm.h). Spark's analogue is many
threads sharing one SparkSession — each query gets its own job group,
the scheduler interleaves stages — plus a writer thread committing
copy-on-write rewrites through the engine's DML step (sources/dml.py,
with ``dml.snapshot_tree`` pre-images as the MVCC analogue).

Method (r12, VERDICT r11 #3): N worker threads pull ALL registry
queries from a shared deque and run them to completion against the
SAME SparkSession while a DuckDB connection per thread checks values
(DuckDB connections are cheap; cursors are not thread-safe across
threads, so one per worker). Concurrently, ONE writer thread runs a
DML loop on its own plain table directory — ``dml.update_where`` /
``delete_where``, appends, and a rewrite rolled back by swapping its
``dml.snapshot_tree`` pre-image in, as ``Engine.rollback`` does —
interleaved with the query stages, and after every commit asserts two
invariants:

  1. read-your-writes: the committed read matches the Python-side
     expected (count, sum) model for that operation;
  2. snapshot isolation: the pre-image pinned after the first write
     still returns its original checksum — later commits (and the
     interleaved query load) never bleed into a committed pre-image,
     the guarantee the reference's VSS/VBBM structures exist to
     provide.

Any wrong answer — reader or writer — fails the probe, not just a
crash.

Usage: python tools/concurrency_probe.py [sf_dir] [n_threads] [n_queries]
Defaults: /root/testdata/sf0.01, 8 threads, ALL registry queries with
an oracle (pass an integer to subsample the head, e.g. 40 for the
r11-style quick run). Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import threading
import time
from collections import deque

sys.path.insert(0, ".")


def _writer_loop(
    spark, stop: threading.Event, report: dict
) -> None:
    """DML loop on a private table directory while the reader threads
    drain the registry. Commits copy-on-write rewrites and appends and
    validates read-your-writes + pinned-pre-image checksums after every
    commit."""
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.sources import dml
    from mariadb_columnstore_engine_spark.sources.ingest import (
        read_table_evolved,
    )

    root = tempfile.mkdtemp(prefix="mcs_conc_writer_")
    path, pinned = root + "/t", root + "/pinned"
    commits = 0
    try:
        spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", "writer")
        n0 = 10_000
        spark.range(1, n0 + 1).select(
            F.col("id"), (F.col("id") % 97).cast("long").alias("val")
        ).write.parquet(path)
        commits += 1
        dml.snapshot_tree(path, pinned)
        # Python-side model of the table state: ids 1..n0, val=id%97
        ids = {i: i % 97 for i in range(1, n0 + 1)}
        pinned_checksum = (len(ids), sum(ids.values()))

        def checksum(p: str) -> tuple:
            got = read_table_evolved(spark, p).agg(
                F.count(F.lit(1)), F.sum("val")).collect()[0]
            return got[0], got[1]

        def check_current() -> None:
            got = checksum(path)
            want = (len(ids), sum(ids.values()) if ids else None)
            if got != want:
                raise AssertionError(
                    f"read-your-writes violated: got {got}, "
                    f"expected {want}")

        def check_pinned() -> None:
            got = checksum(pinned)
            if got != pinned_checksum:
                raise AssertionError(
                    f"snapshot isolation violated: pinned pre-image read "
                    f"{got}, expected {pinned_checksum}")

        check_current()
        op = 0
        while not stop.is_set():
            op += 1
            if op % 4 == 1:  # UPDATE: bump val where id % 10 == op%10
                tgt = op % 10
                dml.update_where(
                    spark, path, F.col("id") % 10 == tgt,
                    {"val": F.col("val") + 1})
                for i in list(ids):
                    if i % 10 == tgt:
                        ids[i] += 1
            elif op % 4 == 2:  # DELETE a thin slice
                lo = (op * 37) % n0
                dml.delete_where(
                    spark, path,
                    (F.col("id") > lo) & (F.col("id") <= lo + 20))
                for i in [i for i in ids if lo < i <= lo + 20]:
                    del ids[i]
            elif op % 4 == 3:  # INSERT: append a fresh id range
                start = n0 + op * 100
                spark.range(start, start + 50).select(
                    F.col("id"),
                    (F.col("id") % 97).cast("long").alias("val"),
                ).write.mode("append").parquet(path)
                for i in range(start, start + 50):
                    ids[i] = i % 97
            else:  # ROLLBACK: rewrite every row, then swap the
                # pre-image back in — the model does not change
                pre = f"{root}/txn{op}"
                dml.snapshot_tree(path, pre)
                dml.update_where(
                    spark, path, F.lit(True), {"val": F.col("val") + 1000})
                dml.swap(pre, path)
                spark.catalog.refreshByPath(path)
            commits += 1
            check_current()
            check_pinned()
        report["writer"] = "ok"
    except Exception as e:  # noqa: BLE001 — recorded, fails probe
        report["writer"] = f"ERR: {type(e).__name__}: {e}"
    finally:
        report["writer_commits"] = commits
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_threads = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 0  # 0 = all

    from mariadb_columnstore_engine_spark.oracle import (
        compare,
        duckdb_connect,
    )
    from mariadb_columnstore_engine_spark.plans import load_all
    from mariadb_columnstore_engine_spark.session import get_session

    spark = get_session("concurrency-probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    specs = [s for s in load_all().values() if s.oracle is not None]
    if n_queries:
        specs = specs[:n_queries]
    work = deque(specs)
    lock = threading.Lock()
    results: dict[str, str] = {}
    t0 = time.time()

    def worker(wid: int) -> None:
        con = duckdb_connect(sf_dir)
        while True:
            with lock:
                if not work:
                    break
                spec = work.popleft()
            try:
                # own job group per query: the scheduler interleaves
                # these across workers — the multi-session shape
                spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", f"w{wid}-{spec.name}")
                problems = compare(spark, con, spec, sf_dir)
                with lock:
                    results[spec.name] = (
                        "ok" if not problems
                        else "DIFF: " + "; ".join(problems))
            except Exception as e:  # noqa: BLE001 — recorded
                with lock:
                    results[spec.name] = f"ERR: {type(e).__name__}: {e}"
        con.close()

    stop_writer = threading.Event()
    writer_report: dict = {}
    wt = threading.Thread(
        target=_writer_loop, args=(spark, stop_writer, writer_report),
        daemon=True)
    wt.start()

    threads = [
        threading.Thread(target=worker, args=(i,), daemon=True)
        for i in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop_writer.set()
    wt.join(timeout=300)

    n_ok = sum(1 for v in results.values() if v == "ok")
    bad = {k: v[:300] for k, v in results.items() if v != "ok"}
    writer_ok = writer_report.get("writer") == "ok"
    print(json.dumps({
        "sf_dir": sf_dir,
        "threads": n_threads,
        "queries": len(results),
        "ok": n_ok,
        "failed": bad,
        "writer": writer_report.get("writer", "DID NOT FINISH"),
        "writer_commits": writer_report.get("writer_commits", 0),
        "wall_sec": round(time.time() - t0, 1),
    }))
    return 1 if (bad or not writer_ok) else 0


if __name__ == "__main__":
    raise SystemExit(main())
