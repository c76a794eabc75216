"""Span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files by wrapping the public
functions at the engine's layer boundaries; no package file is modified.
``engine.py`` resolves ``translate_statement``, ``analysis_repair``,
``statements.parse`` and ``sources.dml.*`` through module attributes at
call time, so replacing those attributes routes every call through a
span. Spark actions are wrapped on the PySpark classes the session
actually instantiates.

Each span is (id, name, start, end, parent id, op id). Spans live in
memory and are written as JSON when the run ends. A layer's self time is
its span duration minus the time its child spans cover.

Run as a script to summarize a trace file:

    python3 perfbench/tracing.py TRACE.json [--untraced RESULT]

It prints, per wrapped boundary, calls, self time, share of timed op
time and the p50 call duration. ``--untraced`` takes the saved stdout of
an untraced run of the same workload and seed and reports the tracing
overhead on throughput and median latency against it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import statistics
import sys
import time
from collections import defaultdict

#: (module path, attribute, span name) of every wrapped module function.
FUNCTION_BOUNDARIES = (
    ("mariadb_columnstore_engine_spark.functions.sqltrans",
     "translate_statement", "sqltrans.translate"),
    ("mariadb_columnstore_engine_spark.functions.sqltrans",
     "analysis_repair", "sqltrans.repair"),
    ("mariadb_columnstore_engine_spark.statements", "parse",
     "statements.parse"),
    ("mariadb_columnstore_engine_spark.sources.dml", "update_where",
     "dml.update"),
    ("mariadb_columnstore_engine_spark.sources.dml", "delete_where",
     "dml.delete"),
)

#: (attribute, span name) of wrapped Engine methods.
ENGINE_BOUNDARIES = (
    ("__init__", "engine.init"),
    ("sql", "engine.sql"),
    ("execute", "engine.execute"),
)


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder for one client thread: a stack of open
    spans and the id of the op in flight."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._op: str | None = None
        self._undo: list[tuple] = []
        #: seconds the tracer spent on its own bookkeeping
        self.overhead_s = 0.0

    # --- spans ----------------------------------------------------------

    def begin(self, name: str):
        o0 = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else 0
        self._stack.append(sid)
        t0 = time.perf_counter()
        self.add_overhead(t0 - o0)
        return sid, name, t0, parent, self._op

    def end(self, token) -> None:
        t1 = time.perf_counter()
        sid, name, t0, parent, op = token
        self._stack.pop()
        self.spans.append((sid, name, t0, t1, parent, op))
        self.add_overhead(time.perf_counter() - t1)

    def add_overhead(self, dt: float) -> None:
        self.overhead_s += dt

    @contextlib.contextmanager
    def span(self, name: str):
        token = self.begin(name)
        try:
            yield
        finally:
            self.end(token)

    def set_op(self, op_id: str | None) -> None:
        self._op = op_id

    # --- wrapping -------------------------------------------------------

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            token = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(token)

        return traced

    def wrap(self, owner, attr: str, name: str) -> None:
        # a class attribute is read from the class __dict__ so that
        # restoring it never turns an inherited method into an own one
        orig = owner.__dict__.get(attr) if isinstance(owner, type) else None
        current = getattr(owner, attr)
        self._undo.append((owner, attr, orig if isinstance(owner, type)
                           else current))
        setattr(owner, attr, self._wrapper(current, name))

    def install_engine(self) -> None:
        """Wrap the package's layer boundaries (before the Engine is
        built, so engine.init is recorded too)."""
        import importlib

        from mariadb_columnstore_engine_spark.engine import Engine

        for mod, attr, name in FUNCTION_BOUNDARIES:
            self.wrap(importlib.import_module(mod), attr, name)
        for attr, name in ENGINE_BOUNDARIES:
            self.wrap(Engine, attr, name)

    def install_spark(self, spark) -> None:
        """Wrap Spark analysis and actions on the classes this session
        instantiates (classic and Connect DataFrames differ)."""
        df = spark.range(1)
        self.wrap(type(spark), "sql", "analysis.spark_sql")
        self.wrap(type(df), "collect", "exec.collect")
        self.wrap(type(df), "count", "exec.count")
        self.wrap(type(df.write), "save", "exec.save")
        self.wrap(type(df.write), "parquet", "exec.write_parquet")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str, meta: dict) -> None:
        cols = ("id", "name", "start", "end", "parent", "op")
        with open(path, "w") as f:
            json.dump({"meta": meta, "columns": cols,
                       "spans": self.spans}, f)


class SparkCounters:
    """Per-op Spark work read from public status APIs after each op:
    the job group's jobs (status tracker), each stage's last attempt
    (AppStatusStore) and the SQL execution's 'number of files read'
    metric (SQLAppStatusStore)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def start_op(self, op_id: str) -> None:
        self._sc.setJobGroup(op_id, op_id)

    def read(self, op_id: str) -> dict:
        out = defaultdict(int)
        execs = set()
        for job in self._sc.statusTracker().getJobIdsForGroup(op_id):
            out["jobs"] += 1
            pair = self._store.jobWithAssociatedSql(job)
            if pair._2().isDefined():
                execs.add(pair._2().get())
            for sid in _scala_iter(pair._1().stageIds()):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped/evicted stage
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["scan_rows"] += sd.inputRecords()
                out["scan_bytes"] += sd.inputBytes()
                out["shuffle_bytes"] += (sd.shuffleReadBytes()
                                         + sd.shuffleWriteBytes())
                out["output_bytes"] += sd.outputBytes()
        for eid in execs:
            out["files_read"] += self._files_read(eid)
        return dict(out)

    def _files_read(self, eid) -> int:
        """Sum of the scans' 'number of files read'. The plan's metric
        list and the value map are read as one string each: walking them
        element by element costs hundreds of py4j calls per op."""
        ex = self._sql.execution(eid)
        if not ex.isDefined():
            return 0
        ids = set(_FILES_READ_ID.findall(ex.get().metrics().toString()))
        if not ids:
            return 0
        values = self._sql.executionMetrics(eid).toString()
        return sum(int(v.replace(",", "")) for k, v in
                   _METRIC_VALUE.findall(values) if k in ids)


_FILES_READ_ID = re.compile(r"SQLPlanMetric\(number of files read,(\d+),")
_METRIC_VALUE = re.compile(r"(\d+) -> ([\d,]+)(?=[,)])")


def _scala_iter(coll):
    """Iterate a Scala collection held through py4j."""
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


# --- summarizing ---------------------------------------------------------


def self_times(spans) -> dict[int, float]:
    """Span id -> self time (duration minus the union of its children's
    intervals; children of one parent on one thread never overlap)."""
    child = defaultdict(float)
    for sid, name, t0, t1, parent, op in spans:
        if parent:
            child[parent] += t1 - t0
    return {s[0]: (s[3] - s[2]) - child[s[0]] for s in spans}


def span_table(spans) -> dict[str, dict]:
    """Per span name (one wrapped boundary): calls, total self seconds
    and p50 call duration (ms)."""
    selfs = self_times(spans)
    acc = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "dur": []})
    for s in spans:
        row = acc[s[1]]
        row["calls"] += 1
        row["self_s"] += selfs[s[0]]
        row["dur"].append((s[3] - s[2]) * 1e3)
    return {
        k: {"calls": v["calls"], "self_s": v["self_s"],
            "call_ms_p50": statistics.median(v["dur"])}
        for k, v in acc.items()
    }


def summarize(path: str, untraced: str | None = None) -> str:
    with open(path) as f:
        doc = json.load(f)
    spans = [tuple(s) for s in doc["spans"]]
    timed = set(doc.get("meta", {}).get("timed_ops", ()))
    op_spans = [s for s in spans
                if s[1] == "op" and (not timed or s[5] in timed)]
    op_ids = {s[5] for s in op_spans}
    in_ops = [s for s in spans if s[5] in op_ids]
    total = sum(s[3] - s[2] for s in op_spans) or 1e-9
    lines = [f"trace {path}: {len(op_spans)} timed ops, "
             f"{total:.3f} s op wall time"]
    lines.append(f"{'span':<22}{'calls':>8}{'self s':>10}{'share':>8}"
                 f"{'p50 ms/call':>13}")
    for name, row in sorted(span_table(in_ops).items(),
                            key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<22}{row['calls']:>8}{row['self_s']:>10.3f}"
                     f"{100 * row['self_s'] / total:>7.1f}%"
                     f"{row['call_ms_p50']:>13.2f}")
    meta = doc.get("meta", {})
    if "overhead_s" in meta:
        lines.append(f"tracer bookkeeping: {meta['overhead_s']:.3f} s "
                     f"({100 * meta['overhead_s'] / total:.2f}% of op time)")
    if untraced:
        with open(untraced) as f:
            last = f.read().strip().splitlines()[-1]
        base = json.loads(last)["metrics"]
        traced = meta.get("end_to_end", {})
        for name in ("throughput_ops_s", "latency_p50_ms"):
            if name in base and name in traced:
                b, t = base[name]["value"], traced[name]
                lines.append(f"overhead on {name}: untraced {b:.4g}, "
                             f"traced {t:.4g} ({100 * (t - b) / b:+.1f}%)")
    return "\n".join(lines)


if __name__ == "__main__":
    args = sys.argv[1:]
    if not args or args[0].startswith("-"):
        raise SystemExit(__doc__)
    base = None
    if "--untraced" in args:
        i = args.index("--untraced")
        base = args[i + 1]
    print(summarize(args[0], base))
