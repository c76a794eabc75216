"""sql_mode=ORACLE session support (r11).

Expected values are the reference's own MTR expectations —
mysql-test/columnstore/oracle/func_{concat,decode,trim,replace}_oracle
.result — i.e. the *_oracle funcexp entries
(utils/funcexp/func_concat.cpp Item_func_concat_operator_oracle,
func_case.cpp decode_oracle, func_trim.cpp, func_replace.cpp).
The engine routes SELECTs through sqltrans.oracle_mode_prepass when
the session has run SET sql_mode=ORACLE.
"""

from __future__ import annotations

import pytest

from mariadb_columnstore_engine_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def ora(spark):
    eng = Engine(spark, SF_DIR)
    eng.execute("SET sql_mode=ORACLE")
    return eng


def one_row(eng, sql):
    return tuple(eng.execute(sql).collect()[0])


def test_oracle_concat_matrix(ora):
    """func_concat_oracle.result: NULL operands act as '' unless ALL
    operands are NULL; '' stays '' (MariaDB renders it empty, not
    NULL)."""
    assert one_row(ora, "SELECT '' || ''") == ("",)
    assert one_row(ora, "SELECT '' || 'b'") == ("b",)
    assert one_row(ora, "SELECT '' || NULL") == ("",)
    assert one_row(ora, "SELECT 'a' || NULL") == ("a",)
    assert one_row(ora, "SELECT NULL || 'b'") == ("b",)
    assert one_row(ora, "SELECT NULL || NULL") == (None,)
    assert one_row(ora, "SELECT '' || NULL || ''") == ("",)
    assert one_row(ora, "SELECT 'a' || '' || 'c'") == ("ac",)
    assert one_row(ora, "SELECT 'a' || 'b' || 'c'") == ("abc",)
    assert one_row(ora, "SELECT NULL || NULL || NULL") == (None,)
    # numbers stringify through the chain
    assert one_row(ora, "SELECT 'x' || 1 || 2") == ("x12",)


def test_oracle_decode(ora):
    """func_decode_oracle.result incl. MDEV-13863: two NULLs are
    equivalent (unlike CASE equality)."""
    assert one_row(ora, "SELECT DECODE(10,10,'x10')") == ("x10",)
    assert one_row(ora, "SELECT DECODE(11,10,'x10')") == (None,)
    assert one_row(ora, "SELECT DECODE(10,10,'x10','def')") == ("x10",)
    assert one_row(ora, "SELECT DECODE(11,10,'x10','def')") == ("def",)
    assert one_row(
        ora, "SELECT DECODE(11,10,'x10',11,'x11','def')") == ("x11",)
    assert one_row(
        ora, "SELECT DECODE(12,10,'x10',11,'x11','def')") == ("def",)
    assert one_row(
        ora, "SELECT DECODE(NULL, NULL, 'eq', 'ne')") == ("eq",)
    assert one_row(
        ora, "SELECT DECODE(1, NULL, 'eq', 'ne')") == ("ne",)


def test_oracle_trim_family(ora):
    """func_trim_oracle.result: an empty RESULT collapses to NULL —
    incl. the [BOTH|LEADING|TRAILING x FROM y] forms and SPACE(n)
    inputs; non-empty results keep their spaces."""
    assert one_row(
        ora,
        "SELECT TRIM('abc'), TRIM('abc ')||'.', '.'||TRIM(' abc ')||'.',"
        " TRIM('  '), TRIM(NULL), TRIM(SPACE(0)), TRIM(SPACE(10))"
        " FROM dual",
    ) == ("abc", "abc.", ".abc.", None, None, None, None)
    assert one_row(
        ora, "SELECT TRIM(TRAILING 'abc' FROM 'abc')") == (None,)
    assert one_row(
        ora, "SELECT TRIM(TRAILING 'abc' FROM 'abc ')") == ("abc ",)
    assert one_row(
        ora, "SELECT TRIM(LEADING 'abc' FROM ' abc')") == (" abc",)
    assert one_row(ora, "SELECT TRIM(BOTH 'abc' FROM 'abc')") == (None,)
    assert one_row(
        ora,
        "SELECT RTRIM('abc'), RTRIM(' abc ')||'.', RTRIM('  '),"
        " RTRIM(NULL) FROM dual",
    ) == ("abc", " abc.", None, None)
    assert one_row(
        ora,
        "SELECT LTRIM('abc '), LTRIM(' abc '), LTRIM('  '),"
        " LTRIM(NULL) FROM dual",
    ) == ("abc ", "abc ", None, None)


def test_oracle_replace(ora):
    """func_replace_oracle.result: NULL subject → NULL; NULL search →
    no-op; NULL replacement deletes; empty result → NULL."""
    assert one_row(ora, "SELECT REPLACE(null,'a','b')") == (None,)
    assert one_row(ora, "SELECT REPLACE('ab',null,'b')") == ("ab",)
    assert one_row(ora, "SELECT REPLACE('ab','a',null)") == ("b",)
    assert one_row(ora, "SELECT REPLACE('ab',null,null)") == ("ab",)
    assert one_row(ora, "SELECT REPLACE('aaa','a',null)") == (None,)


def test_oracle_nvl_and_table_exprs(ora):
    """NVL alias + the func_trim_oracle t1-style matrix over a real
    table expression (chains nested inside COALESCE args)."""
    assert one_row(ora, "SELECT NVL(NULL, 5)") == (5,)
    rows = {
        r[0]: (r[1], r[2])
        for r in ora.execute(
            "SELECT n_nationkey,"
            " '['||n_name||']',"
            " '.'||COALESCE(TRIM(LEADING 'A' FROM n_name),'NULL')||'.'"
            " FROM nation WHERE n_nationkey <= 2 ORDER BY n_nationkey"
        ).collect()
    }
    for k, (bracketed, dotted) in rows.items():
        assert bracketed.startswith("[") and bracketed.endswith("]")
        assert dotted.startswith(".") and dotted.endswith(".")


def test_oracle_mode_is_session_scoped(spark):
    """A fresh engine without SET sql_mode=ORACLE keeps default
    translation (no prepass), and SET sql_mode='' turns it back off.
    (Spark ships a native Oracle-style decode(), so DECODE existing
    in default mode is expected — the mode-scoped semantics under
    test are the ||-chain NULL rules.)"""
    eng = Engine(spark, SF_DIR)
    eng.execute("SET sql_mode=ORACLE")
    assert one_row(eng, "SELECT 'a' || NULL") == ("a",)
    eng.execute("SET sql_mode=''")
    # default mode: statement flows the normal path (Spark || is ANSI
    # concat — NULL-propagating), proving the prepass is OFF
    assert one_row(eng, "SELECT 'a' || NULL") == (None,)


def test_oracle_concat_case_and_arithmetic_operands(ora):
    """r12 (r11 ADVICE #1): the ||-operand scanner must treat
    CASE...END and arithmetic expressions as single operands —
    sql_yacc_ora.yy binds + - * / tighter than the concat operator,
    so `a + b || c` is `(a + b) || c`, and `CASE...END || x` must not
    shred the CASE."""
    assert one_row(
        ora, "SELECT CASE WHEN 1=1 THEN 'x' END || 'y'") == ("xy",)
    assert one_row(
        ora, "SELECT CASE WHEN 1=0 THEN 'x' END || 'y'") == ("y",)
    assert one_row(
        ora,
        "SELECT CASE WHEN 1=0 THEN 'x' END"
        " || CASE WHEN 1=0 THEN 'y' END") == (None,)
    assert one_row(ora, "SELECT 1 + 2 || 'x'") == ("3x",)
    assert one_row(ora, "SELECT 'x' || 1 + 2") == ("x3",)
    assert one_row(ora, "SELECT 2 * 3 || '-' || 8 - 1") == ("6-7",)
    # nested: a chain INSIDE a CASE that is itself a || operand
    assert one_row(
        ora,
        "SELECT CASE WHEN 1=1 THEN 'a' || 'b' END || 'c'") == ("abc",)


def test_oracle_concat_word_operator_adjacency_raises():
    """DIV/MOD adjacency must fail loudly (r11 ADVICE #1), never emit
    silently re-associated SQL."""
    import pytest as _pytest

    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        oracle_mode_prepass,
    )

    with _pytest.raises(ValueError, match="DIV"):
        oracle_mode_prepass("SELECT a DIV 2 || 'x' FROM t")
    with _pytest.raises(ValueError, match="MOD"):
        oracle_mode_prepass("SELECT 'x' || b MOD 2 FROM t")


def test_oracle_concat_function_null_skipping(ora):
    """r12 (r11 ADVICE #2): the CONCAT() FUNCTION maps to the same
    null-skipping oracle concat (funcexp.cpp:98
    concat_operator_oracle; oracle/func_concat_oracle.test runs
    SELECT CONCAT('a'||'b'||'c'))."""
    assert one_row(ora, "SELECT CONCAT('a'||'b'||'c')") == ("abc",)
    assert one_row(ora, "SELECT CONCAT('a', NULL)") == ("a",)
    assert one_row(ora, "SELECT CONCAT(NULL, 'b')") == ("b",)
    assert one_row(ora, "SELECT CONCAT(NULL, NULL)") == (None,)
    assert one_row(ora, "SELECT CONCAT('a')") == ("a",)
    assert one_row(
        ora, "SELECT CONCAT('x', CONCAT(NULL, 'y'))") == ("xy",)
    assert one_row(ora, "SELECT CONCAT('n', 1 + 2)") == ("n3",)


def test_oracle_decode_continues_past_malformed_call(spark):
    """r12 (r11 ADVICE #4): a <3-arg DECODE is left verbatim (Spark
    errors loudly, like MariaDB) but must not stop the scan — later
    well-formed DECODEs in the same statement still get the
    null-safe <=> CASE rewrite."""
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        oracle_mode_prepass,
    )

    out = oracle_mode_prepass("SELECT DECODE(x), DECODE(10,10,'y')")
    assert "DECODE(x)" in out
    assert "DECODE(10" not in out and "<=>" in out
