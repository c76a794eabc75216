"""The benchmark's closed-loop workloads.

Both run on the fixture tables, get their statements from the workload
seed and check every answer outside the timed region:

- ``olap_headline`` (1 client): the registry's ``bench=True`` queries in
  seeded order, each with its declared sink, checked against DuckDB
  oracle digests.
- ``dml_rw`` (1 client): INSERT / UPDATE / DELETE / SELECT through
  ``Engine.execute`` on a private copy of ``orders``; every SELECT is
  checked against a Python model of (row count, sum of cents).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np

#: The private, writable copy of ``orders`` every set-up attaches.
DML_TABLE = "bench_orders"


def rows_digest(rows, colnames) -> tuple[int, str]:
    """(row count, sha256) of a result after the engine's oracle
    normalization (columns sorted by name, rows sorted, floats/dates
    canonicalized) — order-insensitive and exact."""
    from mariadb_columnstore_engine_spark.oracle import normalize

    norm = normalize(rows, colnames)
    return len(norm), hashlib.sha256(repr(norm).encode()).hexdigest()


def _fixture_key(data_dir: str) -> str:
    """Names, sizes and modification times of the fixture files."""
    h = hashlib.sha256(os.path.abspath(data_dir).encode())
    for name in sorted(os.listdir(data_dir)):
        st = os.stat(os.path.join(data_dir, name))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def oracle_digests(data_dir: str, specs,
                   cache_dir: str) -> dict[str, tuple[int, str]]:
    """DuckDB answer digest per query spec. Cached in ``cache_dir`` per
    fixture directory; an entry is recomputed when its oracle SQL or the
    fixture files change."""
    os.makedirs(cache_dir, exist_ok=True)
    cache_path = os.path.join(cache_dir,
                              f"oracle-{_fixture_key(data_dir)}.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out, con = {}, None
    for spec in specs:
        key = hashlib.sha256(spec.oracle.encode()).hexdigest()
        hit = cache.get(spec.name)
        if hit is None or hit["key"] != key:
            if con is None:
                from mariadb_columnstore_engine_spark.oracle import (
                    duckdb_connect,
                )

                con = duckdb_connect(data_dir)
                con.execute("SET threads = 2")
            # same materialization as oracle.compare: Arrow -> Python
            table = con.execute(spec.oracle).arrow()
            rows = list(zip(*(c.to_pylist() for c in table.columns)))
            n, digest = rows_digest(rows, table.column_names)
            hit = cache[spec.name] = {"key": key, "rows": n,
                                      "digest": digest}
        out[spec.name] = (hit["rows"], hit["digest"])
    if con is not None:
        con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return out


@dataclass
class Op:
    """One statement: its kind, measured latency, and whether it failed
    (raised, or returned a wrong answer)."""

    kind: str
    read: bool
    latency_s: float = 0.0
    failed: bool = False
    error: str = ""
    result_rows: int = 0
    changed: int = 0
    plan_hit: bool | None = None
    table_files: int = 0
    op_id: str = ""
    counters: dict = field(default_factory=dict)


class Runner:
    """Runs ops for one client: times the call, records failures, and in
    traced runs wraps the op in a root span with its own job group."""

    def __init__(self, tracer=None, counters=None):
        self.tracer = tracer
        self.counters = counters
        self._seq = itertools.count(1)

    def run(self, op: Op, fn):
        """Time ``fn()`` for ``op``; returns its value, or None when it
        raised (the op is then marked failed)."""
        op_id = f"op-{next(self._seq)}"
        op.op_id = op_id
        tr = self.tracer
        if tr is not None:
            self.counters.start_op(op_id)
            tr.set_op(op_id)
            token = tr.begin("op")
        value = None
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            op.failed = True
            op.error = f"{type(e).__name__}: {str(e)[:300]}"
        op.latency_s = time.perf_counter() - t0
        if tr is not None:
            tr.end(token)
            tr.set_op(None)
            o0 = time.perf_counter()
            op.counters = self.counters.read(op_id)
            tr.add_overhead(time.perf_counter() - o0)
        return value


def closed_loop(runner: Runner, next_op, seconds: float) -> list[Op]:
    """Send ops back to back until ``seconds`` have elapsed; the op in
    flight at the deadline completes and is counted."""
    ops: list[Op] = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        ops.append(next_op(runner))
    return ops


# --- olap_headline ------------------------------------------------------


class OlapHeadline:
    name = "olap_headline"

    def __init__(self, seed: int, data_dir: str, work_dir: str):
        from mariadb_columnstore_engine_spark.plans import load_all

        self.data_dir = data_dir
        self.specs = sorted((s for s in load_all().values() if s.bench),
                            key=lambda s: s.name)
        self.rng = random.Random(seed)
        self.oracle = oracle_digests(data_dir, self.specs, work_dir)

    def _pass(self) -> list:
        """Every query once, in seeded order."""
        order = list(self.specs)
        self.rng.shuffle(order)
        return order

    def _execute(self, spark, spec, op: Op, runner: Runner, sink: str):
        tr = runner.tracer
        if tr is not None:
            # the registry memoizes built plans per session under this
            # attribute, keyed by (query name, data dir)
            cache = getattr(spark, "_mcs_query_plan_cache", None) or {}
            op.plan_hit = any(k[0] == spec.name for k in cache)

        def call():
            if tr is not None:
                with tr.span("plans.build"):
                    df = spec.fn(spark, self.data_dir)
            else:
                df = spec.fn(spark, self.data_dir)
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
                return df, None
            return df, df.collect()

        out = runner.run(op, call)
        if out is None:
            return
        df, rows = out
        if rows is not None:
            op.result_rows = len(rows)
            got = rows_digest([tuple(r) for r in rows], df.columns)
            if got != self.oracle[spec.name]:
                op.failed = True
                op.error = (f"{spec.name}: {got[0]} rows do not match the "
                            f"oracle's {self.oracle[spec.name][0]}")

    def _run_pass(self, spark, runner: Runner) -> list[Op]:
        ops = []
        for spec in self._pass():
            op = Op(spec.name, read=True)
            self._execute(spark, spec, op, runner, spec.sink)
            ops.append(op)
        return ops

    def warm_up(self, spark, eng, runner: Runner) -> list[Op]:
        """One pass: the cold pass (plan builds, JIT) takes about 2.5
        times a warm one."""
        return self._run_pass(spark, runner)

    def measure(self, spark, eng, runner: Runner, seconds: float):
        """Whole passes, as many as bring the measured time closest to
        ``seconds`` (at least one): every query then has the same
        weight in every run, whatever the seed, so the median and tail
        do not depend on which queries a cut-off pass happened to hold."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        while True:
            p0 = time.perf_counter()
            ops += self._run_pass(spark, runner)
            now = time.perf_counter()
            if now - t0 + (now - p0) / 2 >= seconds:
                return ops

    def verify(self, spark, eng, runner: Runner) -> list[Op]:
        """noop-sink queries return nothing while timed: collect each
        once here and compare with the oracle."""
        out = []
        for spec in self.specs:
            if spec.sink == "noop":
                op = Op(spec.name, read=True)
                self._execute(spark, spec, op, runner, "collect")
                out.append(op)
        return out


# --- dml_rw -------------------------------------------------------------

#: Op kinds of one cycle, shuffled per cycle. Reads are the cheapest
#: kind and INSERTs the next, so with 4 reads and 4 inserts in 12 ops
#: the median lands inside the INSERT cluster and the 75th percentile
#: inside the copy-on-write UPDATE/DELETE cluster.
DML_CYCLE = ("select",) * 4 + ("insert",) * 4 + ("update",) * 2 + (
    "delete",) * 2

_INSERT_KEY0 = 1 << 40


class DmlRw:
    name = "dml_rw"

    def __init__(self, seed: int, data_dir: str, work_dir: str):
        import pyarrow.parquet as pq

        self.rng = random.Random(seed)
        t = pq.read_table(f"{data_dir}/orders.parquet",
                          columns=["o_orderkey", "o_totalprice"])
        keys = t.column("o_orderkey").to_numpy()
        cents = np.rint(t.column("o_totalprice").to_numpy() * 100)
        #: the model: live key -> price in cents
        self.model = dict(zip(keys.tolist(), cents.astype(np.int64)
                              .tolist()))
        self.n_base = len(keys)
        self.next_key = _INSERT_KEY0
        self._cycle: list[str] = []
        #: the attached table's directory, set once set-up has made it
        self.table_path = ""

    def _statement(self, kind: str):
        """(SQL, model update or expected answer) for one op."""
        rng = self.rng
        if kind == "insert":
            rows = []
            for _ in range(rng.randint(1, 5)):
                key, cents = self.next_key, rng.randint(100_000, 50_000_000)
                self.next_key += 1
                rows.append((key, cents))
            values = ", ".join(
                f"({k}, {rng.randrange(1000)}, 'O', {c / 100:.2f}, "
                f"'1998-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
                "00:00:00', '3-MEDIUM')"
                for k, c in rows)
            sql = (f"INSERT INTO {DML_TABLE} (o_orderkey, o_custkey, "
                   "o_orderstatus, o_totalprice, o_orderdate, "
                   f"o_orderpriority) VALUES {values}")
            return sql, ("insert", rows)
        if kind == "update":
            lo = rng.randrange(self.n_base - 200)
            sql = (f"UPDATE {DML_TABLE} SET o_totalprice = o_totalprice "
                   f"+ 1.25 WHERE o_orderkey BETWEEN {lo} AND {lo + 199}")
            return sql, ("update", lo, lo + 199)
        if kind == "delete":
            lo = rng.randrange(self.n_base - 20)
            sql = (f"DELETE FROM {DML_TABLE} WHERE o_orderkey BETWEEN "
                   f"{lo} AND {lo + 19}")
            return sql, ("delete", lo, lo + 19)
        # open-ended, so every read also covers the inserted keys
        lo = rng.randrange(self.n_base)
        sql = (f"SELECT COUNT(*) AS n, SUM(ROUND(o_totalprice * 100)) AS "
               f"cents FROM {DML_TABLE} WHERE o_orderkey >= {lo}")
        return sql, ("select", lo, 1 << 62)

    def _apply(self, change) -> int:
        """Apply a write to the model; returns the rows it changed."""
        kind = change[0]
        if kind == "insert":
            self.model.update(change[1])
            return len(change[1])
        lo, hi = change[1], change[2]
        hit = [k for k in range(lo, hi + 1) if k in self.model]
        for k in hit:
            if kind == "update":
                self.model[k] += 125
            else:
                del self.model[k]
        return len(hit)

    def _expected(self, lo: int, hi: int) -> tuple[int, int]:
        vals = [c for k, c in self.model.items() if lo <= k <= hi]
        return len(vals), sum(vals)

    def _send(self, eng, runner: Runner, kind: str) -> Op:
        sql, change = self._statement(kind)
        op = Op(kind, read=kind == "select")
        if op.read and runner.tracer is not None:
            op.table_files = sum(f.endswith(".parquet")
                                 for f in os.listdir(self.table_path))

        def call():
            r = eng.execute(sql)
            return r.collect() if op.read else r

        out = runner.run(op, call)
        if op.read:
            if out is not None:
                op.result_rows = len(out)
                want = self._expected(change[1], change[2])
                n, cents = out[0][0], out[0][1]
                got = (int(n), int(round(cents)) if cents is not None else 0)
                if got != want:
                    op.failed = True
                    op.error = f"select: got {got}, model {want}"
        elif not op.failed:
            op.changed = self._apply(change)
            if out != len(self.model):
                op.failed = True
                op.error = f"{kind}: {out} rows after, model {len(self.model)}"
        return op

    def _next_kind(self) -> str:
        if not self._cycle:
            self._cycle = list(DML_CYCLE)
            self.rng.shuffle(self._cycle)
        return self._cycle.pop()

    def warm_up(self, spark, eng, runner: Runner) -> list[Op]:
        """One whole cycle, so every kind has run a few times before
        the timed loop: the first call of each kind takes two to six
        times as long as a warm one."""
        return [self._send(eng, runner, k) for k in DML_CYCLE]

    def measure(self, spark, eng, runner: Runner, seconds: float):
        return closed_loop(
            runner, lambda r: self._send(eng, r, self._next_kind()),
            seconds)

    def verify(self, spark, eng, runner: Runner) -> list[Op]:
        """One last read against the model."""
        return [self._send(eng, runner, "select")]


WORKLOADS = {w.name: w for w in (OlapHeadline, DmlRw)}
