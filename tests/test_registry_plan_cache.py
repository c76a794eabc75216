"""Focused tests for the registry's session-scoped built-plan memo
(registry._cached_plan, VERDICT r12 #7).

The suite-wide default is MCS_PLAN_CACHE=0 (conftest) so plan-shape
tests that monkeypatch builder internals always build fresh; these
tests re-enable the memo locally via monkeypatch.setenv and pin its
contract: hit on identical (query, sf_dir, shuffle partitions, fixture
fingerprint), rebuild on fixture rewrite, rebuild when disabled, no
interference with results. The last test pins the other half of
"compile once, run many": repeated executions reuse Spark's generated
code.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from mariadb_columnstore_engine_spark.plans import load_all, registry
from mariadb_columnstore_engine_spark.plans.registry import (
    _fixture_fingerprint,
)

SPECS = load_all()


@pytest.fixture()
def plan_cache_on(monkeypatch, spark):
    monkeypatch.setenv("MCS_PLAN_CACHE", "1")
    # isolate from any state a previous test left behind
    if hasattr(spark, "_mcs_query_plan_cache"):
        spark._mcs_query_plan_cache.clear()
    yield
    if hasattr(spark, "_mcs_query_plan_cache"):
        spark._mcs_query_plan_cache.clear()
    if hasattr(spark, "_mcs_plan_cache_unusable"):
        del spark._mcs_plan_cache_unusable


def test_cache_hit_returns_fresh_wrap_over_same_plan(
    spark, sf_dir, plan_cache_on
):
    """A hit must NOT return the memoized Dataset instance (re-running
    one instance lets the DAGScheduler skip its already-computed
    shuffle stages — result caching, not plan reuse). It returns a
    fresh Dataset (new QueryExecution, new shuffle IDs) over the SAME
    analyzed plan."""
    fn = SPECS["tpch_q1_pricing_summary"].fn
    assert hasattr(fn, "__wrapped__"), "bench query not wrapped by memo"
    df1 = fn(spark, sf_dir)
    df2 = fn(spark, sf_dir)
    assert df2 is not df1, "hit must wrap, never hand back the instance"
    # same analyzed plan (the thing being memoized)…
    assert df2._jdf.queryExecution().analyzed().sameResult(
        df1._jdf.queryExecution().analyzed()
    )
    # …but a distinct QueryExecution, so execution starts from parquet
    assert not df2._jdf.queryExecution().equals(
        df1._jdf.queryExecution()
    )
    # and the memo key keeps hitting (the stored entry is stable)
    df3 = fn(spark, sf_dir)
    assert df3 is not df2


def test_cache_disabled_rebuilds(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("MCS_PLAN_CACHE", "0")
    fn = SPECS["tpch_q1_pricing_summary"].fn
    assert fn(spark, sf_dir) is not fn(spark, sf_dir)


def test_fixture_rewrite_invalidates(spark, sf_dir, tmp_path, plan_cache_on):
    fixture = tmp_path / "sfcopy"
    fixture.mkdir()
    for t in ("lineitem",):
        shutil.copy(f"{sf_dir}/{t}.parquet", fixture / f"{t}.parquet")
    fp1 = _fixture_fingerprint(str(fixture))
    assert fp1 is not None
    # rewrite one table: same bytes, new mtime_ns → new fingerprint
    data = (fixture / "lineitem.parquet").read_bytes()
    (fixture / "lineitem.parquet").write_bytes(data)
    fp2 = _fixture_fingerprint(str(fixture))
    assert fp1 != fp2, "mtime_ns rewrite must change the fingerprint"
    # and the memo rebuilds: q6 touches only lineitem
    fn = SPECS["tpch_q6_forecast_revenue"].fn
    df1 = fn(spark, str(fixture))
    (fixture / "lineitem.parquet").write_bytes(data)
    assert fn(spark, str(fixture)) is not df1


def test_fingerprint_refuses_directory_tables(tmp_path):
    d = tmp_path / "fix"
    (d / "orders.parquet").mkdir(parents=True)
    assert _fixture_fingerprint(str(d)) is None
    assert _fixture_fingerprint(str(tmp_path / "missing")) is None


def test_cached_plan_results_match_fresh_build(spark, sf_dir, plan_cache_on):
    """The memo returns a lazy plan — a second, cached invocation must
    produce the identical rows (recomputed from parquet, not replayed)."""
    fn = SPECS["tpch_q6_forecast_revenue"].fn
    first = fn(spark, sf_dir).collect()
    second = fn(spark, sf_dir).collect()
    assert first == second


def test_events_nanos_conf_reasserted_on_hit(spark, sf_dir, plan_cache_on):
    """A cached events plan misdecodes TIMESTAMP(NANOS) if something
    reset the legacy conf between builds — the memo must re-assert it
    on every hit (ADVICE r12 / catalog._ensure_nanos_conf)."""
    fn = SPECS["events_sessionization"].fn
    df1 = fn(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df2 = fn(spark, sf_dir)
    assert df2 is not df1  # fresh wrap over the cached plan
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )
    # and the cached plan still executes
    assert df2.limit(1).collect() is not None


def test_suite_runs_with_plan_cache_off():
    assert os.environ["MCS_PLAN_CACHE"] == "0"


def test_suite_turns_plan_cache_off_even_when_inherited():
    """conftest must force the memo off, not merely default it: a shell
    that exported MCS_PLAN_CACHE=1 would otherwise hand plan-shape tests
    memoized plans."""
    here = os.path.abspath(__file__)
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         f"{here}::test_suite_runs_with_plan_cache_off"],
        cwd=os.path.dirname(os.path.dirname(here)),
        env=dict(os.environ, MCS_PLAN_CACHE="1"),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]


def test_fresh_failure_bypasses_memo_for_the_session(
    spark, sf_dir, plan_cache_on, monkeypatch
):
    """Once a hit cannot be wrapped in a fresh Dataset, the session's
    memo is unusable: later builds go straight to the builder instead
    of paying the fingerprint scan for a hit they cannot use."""
    name = "tpch_q6_forecast_revenue"
    fn = SPECS[name].fn
    fn(spark, sf_dir)
    cache = spark._mcs_query_plan_cache
    key = next(k for k in cache if k[0] == name)
    fp, _df, nanos = cache[key]
    cache[key] = (fp, object(), nanos)  # no JVM plan to wrap
    assert fn(spark, sf_dir) is not None
    assert spark._mcs_plan_cache_unusable is True
    scans = []
    monkeypatch.setattr(
        registry, "_fixture_fingerprint",
        lambda d: scans.append(d) or _fixture_fingerprint(d),
    )
    assert fn(spark, sf_dir) is not None
    assert scans == []


def test_partition_change_rebuilds_verify_hint(
    spark, sf_dir, plan_cache_on, monkeypatch
):
    """minhash's verify-join hint reads spark.sql.shuffle.partitions at
    build time; a memo hit must not keep the hint chosen under another
    partition count."""
    from mariadb_columnstore_engine_spark.plans import text_plans

    monkeypatch.setattr(
        text_plans, "_choose_verify_hint",
        lambda _raw, _heap, _frac, _cores, parts:
            "merge" if parts > 8 else "shuffle_hash",
    )
    fn = SPECS["text_minhash_lsh_dedup"].fn
    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)

    def analyzed_plan() -> str:
        plan = fn(spark, sf_dir)._jdf.queryExecution().analyzed()
        return plan.toString()

    try:
        spark.conf.set(conf, "8")
        assert "strategy=shuffle_hash" in analyzed_plan()
        spark.conf.set(conf, "16")
        assert "strategy=merge" in analyzed_plan()
    finally:
        spark.conf.set(conf, saved)


def _codegen_cache(spark):
    """Spark's JVM-wide whole-stage codegen class cache (private)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def test_generated_code_survives_repeated_bench_passes(
    spark, sf_dir, plan_cache_on
):
    """Compile once, run many: a second pass over the bench queries
    must reuse every generated class instead of recompiling it.

    Their working set (~200 classes) exceeds Spark's default 100-entry
    codegen cache, so a cyclic pass evicts each class before its next
    use. The cache is emptied first so the first pass really compiles
    the whole working set, whatever ran earlier in the session. The
    plan memo is on, as in perfbench: minhash's ``rand()`` draws a new
    seed per fresh build and Spark inlines it into generated code."""
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    specs = [s for s in SPECS.values() if s.bench]
    assert len(specs) == 11
    _codegen_cache(spark).invalidateAll()
    per_pass = []
    for _ in range(2):
        before = compiled.getCount()
        for spec in specs:
            df = spec.fn(spark, sf_dir)
            if spec.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
        per_pass.append(compiled.getCount() - before)
    assert per_pass[0] > 100, per_pass  # the working set outgrows 100
    assert per_pass[1] == 0, per_pass
