"""The sqltrans function table: one definition per MariaDB function.

A helper-backed entry lowers a MariaDB call to the ``dialect`` Column
helper the registry plans use, rendered to SQL through Catalyst. The
agreement test below is the guard that the SQL surface and the helper
give the same answer; the probe tests pin MariaDB's own answers for the
cases where a hand-written SQL copy used to disagree.
"""

from __future__ import annotations

import datetime

import pytest
import pyspark.sql.functions as F

from mariadb_columnstore_engine_spark.engine import Engine
from mariadb_columnstore_engine_spark.functions import dialect, json_ext
from mariadb_columnstore_engine_spark.functions import sqltrans
from tests.conftest import SF_DIR

_TS = "TIMESTAMP '2020-01-01 00:00:00'"

#: entry name → (SQL call with ``{}`` for the arguments, helper, cases);
#: each case is a tuple of SQL literals. Cases cover NULL, negative
#: values and times past 24 hours where the function takes them.
_AGREEMENT = {
    "SEC_TO_TIME": ("SEC_TO_TIME({})", dialect.sec_to_time, [
        ("-3661",), ("400000",), ("59",), ("NULL",), ("4000000",),
        ("-4000000",),
    ]),
    "TIME_TO_SEC": ("TIME_TO_SEC({})", dialect.time_to_sec, [
        ("'-01:00:00'",), ("'100:00:00'",),
        ("TIMESTAMP '2000-01-01 22:23:00'",), ("NULL",), ("'10:30'",),
        ("DATE '2000-01-01'",),
    ]),
    "ADDTIME": ("ADDTIME({})", dialect.add_time, [
        (_TS, "'-01:00:00'"), (_TS, "'25:30:00'"), (_TS, "NULL"),
    ]),
    "SUBTIME": ("SUBTIME({})", dialect.subtime, [
        (_TS, "'-01:00:00'"), (_TS, "'25:30:00'"), ("NULL", "'01:00:00'"),
    ]),
    "TIMEDIFF": ("TIMEDIFF({})", dialect.timediff, [
        (_TS, "TIMESTAMP '2020-01-02 01:00:01'"),
        ("TIMESTAMP '2020-01-03 00:00:00'", _TS), (_TS, "NULL"),
    ]),
    "MAKEDATE": ("MAKEDATE({})", dialect.makedate, [
        ("2020", "60"), ("2020", "0"), ("2019", "400"), ("2020", "NULL"),
    ]),
    "MAKETIME": ("MAKETIME({})", dialect.maketime, [
        ("10", "30", "0"), ("10", "70", "0"), ("-5", "30", "15"),
        ("100", "0", "0"), ("NULL", "0", "0"),
    ]),
    "PERIOD_ADD": ("PERIOD_ADD({})", dialect.period_add, [
        ("202001", "1"), ("9801", "-2"), ("0", "0"), ("202001", "NULL"),
    ]),
    "PERIOD_DIFF": ("PERIOD_DIFF({})", dialect.period_diff, [
        ("202001", "199912"), ("9801", "202001"), ("NULL", "202001"),
    ]),
    "INET_ATON": ("INET_ATON({})", dialect.inet_aton, [
        ("'10.0.5.9'",), ("'127.1'",), ("'1.2.3.4.5'",), ("NULL",),
    ]),
    "INET_NTOA": ("INET_NTOA({})", dialect.inet_ntoa, [
        ("167773449",), ("-1",), ("NULL",),
    ]),
    "DATE_FORMAT": (
        "DATE_FORMAT({}, '%X-%V %D %H:%i')",
        lambda c: dialect.date_format_mariadb(c, "%X-%V %D %H:%i"),
        [("TIMESTAMP '2000-01-01 13:05:00'",), ("DATE '2024-12-30'",),
         ("NULL",)],
    ),
    "TIME_FORMAT": (
        "TIME_FORMAT({}, '%H.%i.%s')",
        lambda c: dialect.date_format_mariadb(c, "%H.%i.%s"),
        [(_TS,), ("TIMESTAMP '2000-01-01 23:59:58'",), ("NULL",)],
    ),
    "STR_TO_DATE": (
        "STR_TO_DATE({}, '%d/%m/%Y')",
        lambda c: dialect.str_to_date(c, "%d/%m/%Y"),
        [("'04/03/2020'",), ("'31/12/1999'",), ("NULL",)],
    ),
    "WEEK": ("WEEK({}, 3)", lambda c: dialect.week_mode(c, 3), [
        ("DATE '2000-01-01'",), ("DATE '2024-12-30'",), ("NULL",),
    ]),
    "YEARWEEK": ("YEARWEEK({})", lambda c: dialect.yearweek_mode(c, 0), [
        ("DATE '2000-01-01'",), ("DATE '2016-01-03'",), ("NULL",),
    ]),
    "JSON_COMPACT": ("JSON_COMPACT({})", json_ext.json_compact, [
        ("'{ \"a\" : [1, 2] }'",), ("NULL",),
    ]),
    "JSON_LOOSE": ("JSON_LOOSE({})", json_ext.json_loose, [
        ("'{\"a\":[1,2]}'",), ("NULL",),
    ]),
    # Oracle mode only (the default-mode DECODE is another function)
    "DECODE": ("DECODE({})", dialect.decode_oracle, [
        ("1", "1", "'one'", "'other'"), ("NULL", "NULL", "'n'", "'d'"),
        ("-5", "5", "'five'"),
    ]),
}


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, SF_DIR)


@pytest.fixture(scope="module")
def ora(spark):
    e = Engine(spark, SF_DIR)
    e.execute("SET sql_mode=ORACLE")
    return e


def _one(engine, expr):
    return engine.execute(f"SELECT {expr} AS v").collect()[0].v


def test_agreement_covers_every_helper_entry():
    helper_backed = {
        name for name, lower in sqltrans._FUNCTIONS.items()
        if lower.__qualname__.split(".")[0]
        in ("_helper", "_format_helper", "_week_helper")
    }
    assert helper_backed | {"DECODE"} == set(_AGREEMENT)


@pytest.mark.parametrize(
    "name,args",
    [
        pytest.param(name, args, id=f"{name}({', '.join(args)})")
        for name, (_, _, cases) in _AGREEMENT.items()
        for args in cases
    ],
)
def test_sql_matches_helper(spark, eng, ora, name, args):
    call, helper, _ = _AGREEMENT[name]
    via_sql = _one(ora if name == "DECODE" else eng, call.format(
        ", ".join(args)
    ))
    via_helper = spark.range(1).select(
        helper(*map(F.expr, args)).alias("v")
    ).collect()[0].v
    assert via_sql == via_helper


_DT = datetime.datetime


@pytest.mark.parametrize(
    "expr,want",
    [
        ("SEC_TO_TIME(-3661)", "-01:01:01"),
        ("SEC_TO_TIME(400000)", "111:06:40"),
        ("TIME_TO_SEC('-01:00:00')", -3600),
        ("TIME_TO_SEC('100:00:00')", 360000),
        ("TIME_TO_SEC(TIMESTAMP '2000-01-01 22:23:00')", 80580),
        # MariaDB's TIME range ends at 838:59:59; a short 'HH:MM' reads
        # as hours and minutes; a DATE has time 00:00:00
        ("SEC_TO_TIME(4000000)", "838:59:59"),
        ("SEC_TO_TIME(-4000000)", "-838:59:59"),
        ("TIME_TO_SEC('10:30')", 37800),
        ("TIME_TO_SEC(DATE '2000-01-01')", 0),
        (f"ADDTIME({_TS}, '-01:00:00')", _DT(2019, 12, 31, 23, 0)),
        (f"SUBTIME({_TS}, '-01:00:00')", _DT(2020, 1, 1, 1, 0)),
        ("MAKETIME(10, 30, 0)", "10:30:00"),
        ("MAKETIME(10, 70, 0)", None),
        ("STR_TO_DATE('04/03/2020', '%d/%m/%Y')", datetime.date(2020, 3, 4)),
        # nested calls to the same function
        ("PERIOD_ADD(PERIOD_ADD(202001, 1), 1)", 202003),
        (f"ADDTIME(ADDTIME({_TS}, '01:00:00'), '01:00:00')",
         _DT(2020, 1, 1, 2, 0)),
        ("FIELD(FIELD('b', 'a', 'b'), 0, 2)", 2),
        ("STRCMP(STRCMP('a', 'b'), 0)", -1),
        ("INSERT('abcdef', 2, 2, INSERT('xyz', 1, 1, 'Q'))", "aQyzdef"),
        ("DATE_ADD(DATE_ADD(DATE '2020-01-01', INTERVAL 1 DAY),"
         " INTERVAL 1 MONTH)", datetime.date(2020, 2, 2)),
    ],
)
def test_probe_cases_give_mariadb_answers(eng, expr, want):
    got = _one(eng, expr)
    assert got == want and type(got) is type(want)


#: Item_func_inet_aton: short forms put the last group in the low bytes
_INET_ATON = [
    ("'127'", 127),
    ("'127.255'", 2130706687),
    ("'127.2.1'", 2130837505),
    ("'10.0.1'", 167772161),
    ("'127.1'", 2130706433),
    ("'1.2.3.4'", 16909060),
    ("'127.256'", None),
    ("'1.2.3.'", None),
    ("'1.2.3.4.5'", None),
    ("'a.b.c.d'", None),
    ("''", None),
]


@pytest.mark.parametrize("arg,want", _INET_ATON)
def test_inet_aton_follows_mariadb_parse(spark, eng, arg, want):
    assert _one(eng, f"INET_ATON({arg})") == want
    got = spark.range(1).select(
        dialect.inet_aton(F.expr(arg)).alias("v")
    ).collect()[0].v
    assert got == want


def test_zero_date_literals_read_null(eng):
    row = eng.execute(
        "SELECT CAST('0000-00-00' AS DATE) AS d,"
        " CAST('0000-00-00 00:00:00' AS DATETIME) AS ts,"
        " CONVERT('0000-00-00', DATE) AS cd,"
        " CONVERT('0000-00-00 00:00:00', DATETIME) AS cts,"
        " CAST('2000-01-02' AS DATE) AS real_date"
    ).collect()[0]
    assert (row.d, row.ts, row.cd, row.cts) == (None, None, None, None)
    assert row.real_date == datetime.date(2000, 1, 2)


def test_renderer_error_names_the_function(spark, monkeypatch):
    from pyspark.sql import SparkSession

    monkeypatch.setattr(sqltrans, "_TPL_CACHE", {})
    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    monkeypatch.setattr(SparkSession, "_instantiatedSession", None)
    with pytest.raises(
        ValueError, match="SEC_TO_TIME translation needs an active"
    ):
        sqltrans.translate_statement("SELECT SEC_TO_TIME(1)")
