"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload olap_headline --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout. The inputs are the fixture tables in
``--data-dir`` (default ``$SPARK_GRAFT_SF_DIR``, else the sf0.1
fixtures), which are only read. Set-up (SparkSession on local[nproc],
``Engine`` over the fixtures, and a private copy of ``orders`` attached
for DML) is done three times and its median reported as
``setup_s``; the first set-up also starts the JVM. The workload then
warms up, runs closed-loop for ``--seconds``, and every answer is checked
outside the timed region. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(spans are written to ``perfbench/_work/traces/`` and summarized on
stderr). The exit code is 0 only when every op succeeded with a correct
answer.

Everything the run writes (oracle digests, Spark scratch, temp files,
traces) stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: name -> unit; must match BENCHMARK.json (the smoke test checks).
END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
    "peak_rss_mb": "MB",
    "space_amp": "x",
}
PER_LAYER = {
    "session.start_s": "s",
    "engine.init_s": "s",
    "exec.action_ms_p50": "ms",
    "jvm.gc_ms_per_op": "ms",
    "driver.py_cpu_ms_per_op": "ms",
    "op.self_pct": "%",
    "plans.self_pct": "%",
    "plans.cache_hit_ratio": "ratio",
    "sqltrans.self_pct": "%",
    "sqltrans.calls_per_op": "count",
    "engine.self_pct": "%",
    "analysis.self_pct": "%",
    "engine.spark_sql_calls_per_stmt": "count",
    "statements.self_pct": "%",
    "dml.self_pct": "%",
    "dml.rewrite_pct": "%",
    "dml.bytes_written_per_row_changed": "B",
    "insert.append_pct": "%",
    "exec.self_pct": "%",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.scan_rows_per_result_row": "ratio",
    "exec.scan_bytes_per_op": "B",
    "exec.files_read_per_op": "count",
    "exec.shuffle_bytes_per_op": "B",
    "table.files_end": "count",
    "dml_read.files_scanned_per_read": "count",
    "trace.overhead_pct": "%",
}
SETUP_REPS = 3
DEFAULT_DATA_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                                  "/root/testdata/sf0.1")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def percentile(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def source_id() -> str:
    """Git commit of the checkout, or a hash of the engine's sources when
    the checkout is not a git repository."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        import hashlib

        h = hashlib.sha256()
        pkg = os.path.join(ROOT, "mariadb_columnstore_engine_spark")
        for dirpath, dirs, files in sorted(os.walk(pkg)):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(dirpath, name), "rb") as f:
                        h.update(f.read())
        return "tree-" + h.hexdigest()[:16]


# --- Spark session lifetime ---------------------------------------------


def start_session(run_dir: str, cores: int):
    from mariadb_columnstore_engine_spark.session import (
        ENGINE_CONF,
        get_session,
    )

    tmp = os.path.join(run_dir, "tmp")
    heap_mb = min(2048, ram_bytes() // (4 << 20))
    java_opts = (ENGINE_CONF.get("spark.driver.extraJavaOptions", "")
                 + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                 # the heap is committed at full size up front, so G1 does
                 # not resize it differently from run to run; it is not
                 # pre-touched, so RSS counts only the pages the run uses
                 + f" -Xms{heap_mb}m")
    spark = get_session(
        "perfbench", f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            # a heap well below physical RAM: the machine is shared
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": java_opts.strip(),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # scan splits sized to the fixture tables (the largest is
            # ~11 MB at sf0.1), as the root bench.py does, so scans use
            # every core
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait()


def copy_table(spark, src: str, dst: str) -> None:
    """Load ``src`` into a fresh single-file parquet table at ``dst`` —
    the set-up copy and the space_amp reference are made the same way."""
    spark.read.parquet(src).coalesce(1).write.parquet(dst)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def reset_hwm(pid) -> None:
    """Reset the process's peak RSS (VmHWM) to its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# --- metrics ------------------------------------------------------------


def end_to_end(ops, elapsed, setups, rss_mb, space_amp) -> dict:
    lat = [op.latency_s * 1e3 for op in ops]
    return {
        "setup_s": statistics.median(setups),
        "throughput_ops_s": len(ops) / elapsed,
        "latency_p50_ms": statistics.median(lat),
        "latency_p75_ms": percentile(lat, 75),
        "peak_rss_mb": rss_mb,
        "space_amp": space_amp,
    }


def write_trace(tracer, args, meta: dict) -> None:
    """Write the spans held in memory, then print their summary."""
    import tracing

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(
        WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    tracer.uninstall()
    tracer.dump(path, meta)
    log(tracing.summarize(path))


def per_layer(tracer, ops, su: "SetUp", timed) -> dict:
    import tracing

    ids = {op.op_id: op for op in ops}
    spans = [s for s in tracer.spans if s[5] in ids]
    selfs = tracing.self_times(spans)
    n = len(ops)
    op_time = sum(op.latency_s for op in ops) or 1e-9
    by_id = {s[0]: s for s in spans}

    def pct(seconds: float) -> float:
        return 100.0 * seconds / op_time

    layer_self: dict[str, float] = {}
    for s in spans:
        layer = tracing.layer_of(s[1])
        layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s[0]]
    actions = [(s[3] - s[2]) * 1e3 for s in spans if s[1].startswith("exec.")]
    engine_sql = [s for s in spans if s[1] == "engine.sql"]
    sql_ids = {s[0] for s in engine_sql}
    analysis_in_sql = sum(1 for s in spans if s[1] == "analysis.spark_sql"
                          and s[4] in sql_ids)
    dml_spans = [s for s in spans if s[1].startswith("dml.")]
    appends = sum(selfs[s[0]] for s in spans
                  if s[1] == "exec.write_parquet"
                  and ids[s[5]].kind == "insert"
                  and not _under(s, by_id, "dml."))

    def total(key: str, subset=ops) -> int:
        return sum(op.counters.get(key, 0) for op in subset)

    builds = [op for op in ops if op.plan_hit is not None]
    with_rows = [op for op in ops if op.result_rows]
    writes = [op for op in ops if not op.read]
    changed = sum(op.changed for op in writes)
    files_end = sum(f.endswith(".parquet") for f in os.listdir(su.table))
    reads_files = [op.table_files for op in ops if op.table_files]
    return {
        "session.start_s": su.session_s[0],
        "engine.init_s": statistics.median(su.engine_s),
        "exec.action_ms_p50": statistics.median(actions) if actions else 0.0,
        "jvm.gc_ms_per_op": timed["gc_ms"] / n,
        "driver.py_cpu_ms_per_op": timed["cpu_s"] * 1e3 / n,
        "op.self_pct": pct(layer_self.get("op", 0.0)),
        "plans.self_pct": pct(layer_self.get("plans", 0.0)),
        "plans.cache_hit_ratio": (
            sum(op.plan_hit for op in builds) / len(builds)
            if builds else 0.0),
        "sqltrans.self_pct": pct(layer_self.get("sqltrans", 0.0)),
        "sqltrans.calls_per_op": sum(
            1 for s in spans if s[1] == "sqltrans.translate") / n,
        "engine.self_pct": pct(layer_self.get("engine", 0.0)),
        "analysis.self_pct": pct(layer_self.get("analysis", 0.0)),
        "engine.spark_sql_calls_per_stmt": (
            analysis_in_sql / len(engine_sql) if engine_sql else 0.0),
        "statements.self_pct": pct(layer_self.get("statements", 0.0)),
        "dml.self_pct": pct(layer_self.get("dml", 0.0)),
        "dml.rewrite_pct": pct(sum(s[3] - s[2] for s in dml_spans)),
        "dml.bytes_written_per_row_changed": (
            total("output_bytes", writes) / changed if changed else 0.0),
        "insert.append_pct": pct(appends),
        "exec.self_pct": pct(layer_self.get("exec", 0.0)),
        "exec.jobs_per_op": total("jobs") / n,
        "exec.stages_per_op": total("stages") / n,
        "exec.tasks_per_op": total("tasks") / n,
        "exec.scan_rows_per_result_row": (
            total("scan_rows", with_rows)
            / sum(op.result_rows for op in with_rows) if with_rows else 0.0),
        "exec.scan_bytes_per_op": total("scan_bytes") / n,
        "exec.files_read_per_op": total("files_read") / n,
        "exec.shuffle_bytes_per_op": total("shuffle_bytes") / n,
        "table.files_end": float(files_end),
        "dml_read.files_scanned_per_read": (
            statistics.mean(reads_files) if reads_files else 0.0),
        "trace.overhead_pct": pct(timed["trace_overhead_s"]),
    }


def _under(span, by_id, prefix: str) -> bool:
    parent = by_id.get(span[4])
    while parent is not None:
        if parent[1].startswith(prefix):
            return True
        parent = by_id.get(parent[4])
    return False


def kind_table(ops) -> str:
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op.kind, []).append(op.latency_s * 1e3)
    rows = [f"  {k:<32}{len(v):>5} ops  p50 {statistics.median(v):9.1f} ms"
            for k, v in sorted(kinds.items())]
    return "\n".join(rows)


# --- the run ------------------------------------------------------------


class SetUp:
    """The session, Engine and attached DML table the workload runs on,
    plus the timings of every set-up repetition."""

    def __init__(self) -> None:
        self.spark = self.engine = self.table = None
        self.total_s: list[float] = []
        self.session_s: list[float] = []
        self.engine_s: list[float] = []

    def repeat(self, run_dir: str, cores: int, data_dir: str) -> None:
        """Set up SETUP_REPS times; each repetition after the first
        stops the previous session (the JVM stays) and starts afresh."""
        from mariadb_columnstore_engine_spark.engine import Engine

        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(self.table, ignore_errors=True)
            t0 = time.perf_counter()
            self.spark = start_session(run_dir, cores)
            t1 = time.perf_counter()
            self.engine = Engine(self.spark, data_dir)
            t2 = time.perf_counter()
            self.table = os.path.join(run_dir, f"table-{rep}")
            copy_table(self.spark,
                       os.path.join(data_dir, "orders.parquet"), self.table)
            self.engine.attach_table(workloads.DML_TABLE, self.table)
            self.total_s.append(time.perf_counter() - t0)
            self.session_s.append(t1 - t0)
            self.engine_s.append(t2 - t1)


def bench(args, run_dir: str) -> int:
    cores = nproc()
    data_dir = os.path.abspath(args.data_dir)
    wl = workloads.WORKLOADS[args.workload](args.seed, data_dir, WORK)
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install_engine()

    su = SetUp()
    try:
        su.repeat(run_dir, cores, data_dir)
        spark, eng, table = su.spark, su.engine, su.table
        wl.table_path = table
        env = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "data_dir": data_dir, "nproc": cores,
            "ram_gb": round(ram_bytes() / 2**30, 1),
            "python": sys.version.split()[0], "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "source": source_id(),
            "spark_conf": dict(sorted(
                (k, v) for k, v in spark.sparkContext.getConf().getAll()
                if k.startswith(("spark.sql.", "spark.driver.memory",
                                 "spark.master")))),
        }
        log("env: " + json.dumps(env))
        log("setup_s reps: " + ", ".join(f"{s:.3f}" for s in su.total_s))

        counters = None
        if tracer is not None:
            import tracing

            tracer.install_spark(spark)
            counters = tracing.SparkCounters(spark)
        runner = workloads.Runner(tracer, counters)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()

        warm = wl.warm_up(spark, eng, runner)
        # peak RSS is taken over the timed loop only: not over the
        # oracle and model preparation before it or the checks after it
        for pid in ("self", jvm_pid):
            reset_hwm(pid)
        over0 = tracer.overhead_s if tracer else 0.0
        gc0, cpu0 = gc_ms(spark), time.process_time()
        t0 = time.perf_counter()
        ops = wl.measure(spark, eng, runner, args.seconds)
        elapsed = time.perf_counter() - t0
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        timed = {
            "gc_ms": gc_ms(spark) - gc0,
            "cpu_s": time.process_time() - cpu0,
            "trace_overhead_s": (tracer.overhead_s - over0) if tracer else 0,
        }
        checked = wl.verify(spark, eng, runner)

        fresh = os.path.join(run_dir, "fresh")
        copy_table(spark, table, fresh)
        space_amp = dir_bytes(table) / dir_bytes(fresh)
        e2e = end_to_end(ops, elapsed, su.total_s, rss, space_amp)

        every = warm + ops + checked
        failed = [op for op in every if op.failed]
        log(f"{args.workload}: {len(ops)} timed ops in {elapsed:.2f} s, "
            f"{len(every)} checked, {len(failed)} failed")
        log(kind_table(ops))
        for op in failed[:5]:
            log(f"  FAILED {op.kind}: {op.error}")
        for k, v in e2e.items():
            log(f"  {k:<24}{v:12.4f} {END_TO_END[k]}")

        if tracer is not None:
            metrics = per_layer(tracer, ops, su, timed)
            units = PER_LAYER
            write_trace(tracer, args, {
                **env, "overhead_s": timed["trace_overhead_s"],
                "end_to_end": e2e, "timed_ops": [op.op_id for op in ops]})
            for k, v in metrics.items():
                log(f"  {k:<36}{v:14.4f} {units[k]}")
        else:
            metrics, units = e2e, END_TO_END
    finally:
        if su.spark is not None:
            stop_spark(su.spark)

    print(json.dumps({
        "correct": not failed,
        "attempted": len(every),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0 if not failed else 1


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--data-dir", default=DEFAULT_DATA_DIR,
                   help="directory of the fixture parquet tables "
                   "(default: %(default)s)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import mariadb_columnstore_engine_spark.engine  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the engine package from {ROOT}: {e}")
        return 2
    if not os.path.isfile(os.path.join(args.data_dir, "orders.parquet")):
        log(f"perfbench: no fixture tables in {args.data_dir}")
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # the JVM launcher, PySpark and DuckDB put temp files under TMPDIR
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None
    try:
        return bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
