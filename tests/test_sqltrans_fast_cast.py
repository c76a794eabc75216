"""r12 direct loose-cast fast path: value-equality vs the slow path.

The fast path (sqltrans._operand_static_numeric → direct=True) parses a
statically-numeric operand directly instead of routing it through
CAST(x AS STRING). These tests pin bit-equality of the two emissions
over an adversarial value battery (rounding boundaries, clamp bounds,
specials, NULL) for every loose target and operand type the fast path
accepts — and that float operands/targets stay OFF the fast path.
"""

from __future__ import annotations

import math

import pytest

from mariadb_columnstore_engine_spark.functions import sqltrans
from mariadb_columnstore_engine_spark.functions.sqltrans import (
    _operand_static_numeric,
    translate_statement,
)

DOUBLES = [
    0.0, -0.0, 1.1, -1.5, 0.5, 2.5, -2.5, 0.005, 1.005, 1.015,
    123456.785, -123456.785, 0.49999999999999994,
    9.2233720368547758e18, -9.2233720368547758e18,  # i64 boundary
    1e38, -1e38, 1.0000000000000002e38, 1e39, -1e39,
    5e-324, -5e-324, 2.2250738585072014e-308,
    math.inf, -math.inf, math.nan, None,
    99999999999999999.99, 1234567890123456.7,
]
BIGINTS = [
    0, 1, -1, 12, -13, 9223372036854775807, -9223372036854775808,
    99999999999999999, -99999999999999999, None,
]
TARGETS = [
    "SIGNED", "UNSIGNED", "DOUBLE", "DECIMAL(18,2)", "DECIMAL(38,10)",
    "DECIMAL(5,0)", "DECIMAL(10)",
]


def _run_both(spark, df, target: str):
    """Collect CAST(x AS target) under the slow and the fast emission."""
    df.createOrReplaceTempView("fastcast_vals")
    stmt = f"SELECT id, CAST(x AS {target}) AS v FROM fastcast_vals"
    slow_sql = translate_statement(stmt)
    fast_sql = translate_statement(
        stmt, numeric_columns=frozenset({"x"})
    )
    assert slow_sql != fast_sql, "fast path did not engage"
    slow = {r["id"]: r["v"] for r in spark.sql(slow_sql).collect()}
    fast = {r["id"]: r["v"] for r in spark.sql(fast_sql).collect()}
    return slow, fast


def _assert_equal(slow, fast, target, typ):
    for k in slow:
        a, b = slow[k], fast[k]
        same = (a == b) or (a is None and b is None) or (
            isinstance(a, float) and isinstance(b, float)
            and math.isnan(a) and math.isnan(b)
        )
        assert same, (
            f"target={target} operand_type={typ} id={k}: slow={a!r} "
            f"fast={b!r}"
        )


@pytest.mark.parametrize("target", TARGETS)
def test_double_operand_equality(spark, target):
    rows = [(i, v) for i, v in enumerate(DOUBLES)]
    df = spark.createDataFrame(rows, "id INT, x DOUBLE")
    slow, fast = _run_both(spark, df, target)
    _assert_equal(slow, fast, target, "double")


@pytest.mark.parametrize("target", TARGETS)
def test_bigint_operand_equality(spark, target):
    rows = [(i, v) for i, v in enumerate(BIGINTS)]
    df = spark.createDataFrame(rows, "id INT, x BIGINT")
    slow, fast = _run_both(spark, df, target)
    _assert_equal(slow, fast, target, "bigint")


@pytest.mark.parametrize("target", TARGETS)
def test_decimal_operand_equality(spark, target):
    import decimal

    vals = [
        decimal.Decimal("0"), decimal.Decimal("1.1005"),
        decimal.Decimal("-1.0050"), decimal.Decimal("2.5000"),
        decimal.Decimal("9999999999999999.9999"),
        decimal.Decimal("-9999999999999999.9999"), None,
    ]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id INT, x DECIMAL(20,4)")
    slow, fast = _run_both(spark, df, target)
    _assert_equal(slow, fast, target, "decimal(20,4)")


def test_window_sum_shape_matches_slow_path(spark):
    """The bench shape — CAST(SUM(CAST(x AS DECIMAL(18,2))) OVER w AS
    DOUBLE) — engages the aggregate fast path for every caller; values
    must equal the pre-r12 slow emission (simulated by disabling the
    static-numeric detector)."""
    rows = [(i, v) for i, v in enumerate(
        [1.005, 2.5, -1.5, 0.0, 123456.785, None, 1e15]
    )]
    spark.createDataFrame(rows, "id INT, x DOUBLE").createOrReplaceTempView(
        "fastcast_win"
    )
    stmt = (
        "SELECT id, CAST(SUM(CAST(x AS DECIMAL(18,2))) OVER ("
        "ORDER BY id ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING"
        ") AS DOUBLE) AS v FROM fastcast_win"
    )
    fast_sql = translate_statement(stmt)
    orig = sqltrans._operand_static_numeric
    sqltrans._operand_static_numeric = lambda *a, **k: False
    try:
        slow_sql = translate_statement(stmt)
    finally:
        sqltrans._operand_static_numeric = orig
    assert fast_sql != slow_sql
    slow = {r["id"]: r["v"] for r in spark.sql(slow_sql).collect()}
    fast = {r["id"]: r["v"] for r in spark.sql(fast_sql).collect()}
    _assert_equal(slow, fast, "window-sum", "double")


def test_float_column_stays_on_slow_path(spark):
    """FLOAT operands must never take the direct parse (their widening
    to double drifts from their string render)."""
    assert not _operand_static_numeric("x", frozenset())
    # catalog helper: float columns are excluded upstream, so the only
    # way a float reaches the detector is an explicit nested FLOAT cast
    assert not _operand_static_numeric(
        "CAST(y AS FLOAT)", frozenset({"y"})
    )
    # and FLOAT as the *target* falls through to the slow emission even
    # for a numeric operand
    stmt = "SELECT CAST(x AS FLOAT) AS v FROM t"
    assert translate_statement(
        stmt, numeric_columns=frozenset({"x"})
    ) == translate_statement(stmt)


def test_detector_shapes():
    ncols = frozenset({"o_totalprice"})
    assert _operand_static_numeric("o_totalprice", ncols)
    assert _operand_static_numeric("orders.o_totalprice", ncols)
    assert not _operand_static_numeric("o_comment", ncols)
    assert _operand_static_numeric("COUNT(*)", frozenset())
    assert _operand_static_numeric("COUNT(x) OVER (ORDER BY y)",
                                   frozenset())
    assert _operand_static_numeric(
        "SUM(CAST(x AS DECIMAL(18,2))) OVER sfx", frozenset()
    )
    assert _operand_static_numeric("MIN(o_totalprice) OVER w", ncols)
    assert not _operand_static_numeric("SUM(x)", frozenset())
    assert not _operand_static_numeric("'12'", frozenset())
    # r13 (VERDICT r12 #6): AVG over static-numeric args
    assert _operand_static_numeric("AVG(o_totalprice)", ncols)
    assert _operand_static_numeric("AVG(o_totalprice) OVER w", ncols)
    assert not _operand_static_numeric("AVG(x)", frozenset())
    # r13: arithmetic compositions
    assert _operand_static_numeric("o_totalprice + 1", ncols)
    assert _operand_static_numeric("o_totalprice * 2 - 0.5", ncols)
    assert _operand_static_numeric("(o_totalprice)", ncols)
    assert _operand_static_numeric("-o_totalprice", ncols)
    assert _operand_static_numeric(
        "try_divide(o_totalprice, 7)", ncols
    )
    assert _operand_static_numeric(
        "try_mod(o_totalprice, 97) + SUM(o_totalprice) OVER w", ncols
    )
    assert not _operand_static_numeric("o_comment + 1", ncols)
    assert not _operand_static_numeric("o_totalprice + o_comment", ncols)
    assert not _operand_static_numeric("try_divide(o_comment, 2)", ncols)
    assert not _operand_static_numeric("o_totalprice || 'x'", ncols)
    # unbalanced / odd shapes stay conservative
    assert not _operand_static_numeric("(o_totalprice", ncols)
    assert not _operand_static_numeric("1e-5 * o_comment", ncols)


@pytest.mark.parametrize("target", TARGETS)
def test_avg_operand_equality(spark, target):
    """r13: AVG over an int column (→ double in Spark) through both
    emissions — bit-equal on the battery."""
    rows = [(i, v) for i, v in enumerate(BIGINTS)]
    df = spark.createDataFrame(rows, "id INT, x BIGINT")
    df.createOrReplaceTempView("fastcast_avg")
    stmt = (
        f"SELECT id, CAST(AVG(x) OVER (ORDER BY id ROWS BETWEEN 2 "
        f"PRECEDING AND CURRENT ROW) AS {target}) AS v FROM fastcast_avg"
    )
    fast_sql = translate_statement(stmt, numeric_columns=frozenset({"x"}))
    orig = sqltrans._operand_static_numeric
    sqltrans._operand_static_numeric = lambda *a, **k: False
    try:
        slow_sql = translate_statement(stmt)
    finally:
        sqltrans._operand_static_numeric = orig
    assert fast_sql != slow_sql, "fast path did not engage"
    slow = {r["id"]: r["v"] for r in spark.sql(slow_sql).collect()}
    fast = {r["id"]: r["v"] for r in spark.sql(fast_sql).collect()}
    _assert_equal(slow, fast, target, "avg(bigint)")


@pytest.mark.parametrize("target", TARGETS)
@pytest.mark.parametrize(
    "expr",
    [
        "x + 1",
        "x * 2 - 0.5",
        "-x",
        "try_divide(x, 7)",
        "x % 97",  # the division pass rewrites % to try_mod first
        "(x + x) * 0.25",
    ],
)
def test_composition_operand_equality(spark, target, expr):
    """r13: arithmetic compositions of static-numeric terms through
    both emissions over the double battery (specials, clamp bounds,
    NULL) — bit-equal everywhere."""
    rows = [(i, v) for i, v in enumerate(DOUBLES)]
    df = spark.createDataFrame(rows, "id INT, x DOUBLE")
    df.createOrReplaceTempView("fastcast_comp")
    stmt = f"SELECT id, CAST({expr} AS {target}) AS v FROM fastcast_comp"
    fast_sql = translate_statement(stmt, numeric_columns=frozenset({"x"}))
    orig = sqltrans._operand_static_numeric
    sqltrans._operand_static_numeric = lambda *a, **k: False
    try:
        slow_sql = translate_statement(stmt)
    finally:
        sqltrans._operand_static_numeric = orig
    assert fast_sql != slow_sql, "fast path did not engage"
    slow = {r["id"]: r["v"] for r in spark.sql(slow_sql).collect()}
    fast = {r["id"]: r["v"] for r in spark.sql(fast_sql).collect()}
    _assert_equal(slow, fast, target, f"double comp {expr!r}")


def test_alias_shadowing_disables_fast_path(spark):
    """r13 (ADVICE r12): an AS alias that shadows a numeric_columns
    member must drop that name back to the slow path — a derived
    table may have redefined it with non-catalog semantics."""
    stmt = (
        "SELECT CAST(x AS SIGNED) AS v FROM "
        "(SELECT '12abc' AS x FROM t) d"
    )
    shadowed = translate_statement(stmt, numeric_columns=frozenset({"x"}))
    plain = translate_statement(stmt)
    assert shadowed == plain, "shadowed name must not take the fast path"
    # a backtick-quoted alias is masked text; it shadows just the same
    stmt_bt = (
        "SELECT CAST(x AS SIGNED) AS v FROM "
        "(SELECT '12abc' AS `X` FROM t) d"
    )
    assert translate_statement(
        stmt_bt, numeric_columns=frozenset({"x"})
    ) == translate_statement(stmt_bt), "backtick alias must shadow too"
    # an alias that does NOT shadow the operand leaves the fast path on
    stmt2 = "SELECT CAST(x AS SIGNED) AS v FROM t"
    assert translate_statement(
        stmt2, numeric_columns=frozenset({"x"})
    ) != translate_statement(stmt2)
