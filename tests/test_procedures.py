"""Stored procedures: the body grammar and the interpreter (procedures.py).

The reference runs procedure bodies in mysqld (sp_head); each body
statement is routed like any other statement. These tests pin the
places where a body statement must read a name the way MariaDB's
grammar does, and the errors that must come at CREATE or CALL rather
than as a Python error.
"""

import pytest

from mariadb_columnstore_engine_spark.engine import Engine
from mariadb_columnstore_engine_spark.procedures import SqlSignal


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    e = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    e.execute("CREATE TABLE t (i INT, j INT)")
    return e


def _rows(eng):
    return sorted(
        (r.i, r.j) for r in eng.execute("SELECT i, j FROM t").collect()
    )


def test_local_never_replaces_an_insert_column(eng):
    """An INSERT column list names columns (simple_ident_nospvar), so
    a same-named IN parameter is substituted only in VALUES."""
    eng.execute(
        "CREATE PROCEDURE pi(IN j INT) BEGIN "
        "INSERT INTO t (i, j) VALUES (9, j); END"
    )
    eng.execute("CALL pi(42)")
    assert _rows(eng) == [(9, 42)]
    # the INSERT … SET spelling assigns columns the same way
    eng.execute(
        "CREATE PROCEDURE ps(IN j INT) BEGIN "
        "INSERT INTO t SET i = 5, j = j; END"
    )
    eng.execute("CALL ps(7)")
    assert _rows(eng) == [(5, 7), (9, 42)]


def test_local_never_replaces_an_update_target(eng):
    """UPDATE … SET j = j + 1 assigns the column j from the local j."""
    eng.execute("INSERT INTO t VALUES (1, 0), (2, 0)")
    eng.execute(
        "CREATE PROCEDURE pu(IN j INT) BEGIN "
        "UPDATE t SET j = j + 1 WHERE i = 1; END"
    )
    eng.execute("CALL pu(100)")
    assert _rows(eng) == [(1, 101), (2, 0)]


def test_local_never_replaces_a_user_variable_name(eng):
    """@x is a user variable, whatever locals the procedure has."""
    eng.execute("CREATE PROCEDURE pv(IN x INT) BEGIN SET @x = x + 1; END")
    eng.execute("CALL pv(4)")
    assert eng.execute("SELECT @x AS v").collect()[0].v == 5


def test_nested_begin_block_refused_at_create(eng):
    """A nested BEGIN … END block fails at CREATE, at top level and
    inside an IF, instead of failing differently at CALL."""
    for body in (
        "SET @a = 1; BEGIN SET @a = 2; END; SELECT @a;",
        "IF 1 = 1 THEN BEGIN SET @n = 1; END; END IF;",
    ):
        with pytest.raises(ValueError, match="nested BEGIN"):
            eng.execute(f"CREATE PROCEDURE pb() BEGIN {body} END")
    assert eng.execute("SHOW PROCEDURE STATUS") == []


def test_recursive_call_raises_sp_recursion_limit(eng):
    """MariaDB's max_sp_recursion_depth defaults to 0: a procedure
    that CALLs itself, directly or through another, raises
    ER_SP_RECURSION_LIMIT (1456). A non-recursive nested CALL runs."""
    eng.execute("CREATE PROCEDURE pr() BEGIN CALL pr(); END")
    with pytest.raises(SqlSignal, match="1456.*pr") as ei:
        eng.execute("CALL pr()")
    assert ei.value.errno == 1456
    eng.execute("CREATE PROCEDURE pa() BEGIN CALL pb(); END")
    eng.execute("CREATE PROCEDURE pb() BEGIN CALL pa(); END")
    with pytest.raises(SqlSignal, match="1456"):
        eng.execute("CALL pa()")
    eng.execute("CREATE PROCEDURE inner_p(IN v INT) BEGIN SET @got = v; END")
    eng.execute(
        "CREATE PROCEDURE outer_p() BEGIN CALL inner_p(3); "
        "CALL inner_p(4); END"
    )
    eng.execute("CALL outer_p()")
    assert eng.execute("SELECT @got AS g").collect()[0].g == 4
