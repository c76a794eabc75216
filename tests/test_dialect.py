"""Unit tests for the MariaDB-dialect function layer.

Pins the semantics VERDICT r1 flagged as untested: GROUP_CONCAT ordering,
JSON_ARRAYAGG determinism, and exact integer DIV beyond 2^53.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mariadb_columnstore_engine_spark.functions import dialect


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    """The SQL surface: MariaDB spellings with no Column helper here are
    checked through ``Engine.execute``."""
    from mariadb_columnstore_engine_spark.engine import Engine

    return Engine(spark, sf_dir)


def test_group_concat_default_sorts_for_determinism(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], ["v"])
    out = df.agg(dialect.group_concat("v").alias("g")).collect()[0].g
    # MariaDB without ORDER BY is implementation-ordered; we pin sorted
    # order so results are deterministic and oracle-checkable.
    assert out == "a,b,c"


def test_group_concat_order_by_and_separator(spark):
    df = spark.createDataFrame([(2, "b"), (1, "a"), (3, "c")], ["k", "v"])
    out = df.agg(
        dialect.group_concat("v", "|", order_by="k", ascending=False).alias("g")
    ).collect()[0].g
    assert out == "c|b|a"


def test_group_concat_distinct(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",)], ["v"])
    out = df.agg(dialect.group_concat("v", distinct=True).alias("g")).collect()[0].g
    assert out == "a,b"


def test_group_concat_distinct_with_order_keeps_first_by_key(spark):
    # Pinned semantics (differs from MariaDB, which orders distinct VALUES):
    # values sort by the ORDER BY key; duplicates keep first occurrence.
    df = spark.createDataFrame([(3, "a"), (1, "b"), (2, "a")], ["k", "v"])
    out = df.agg(
        dialect.group_concat("v", order_by="k", distinct=True).alias("g")
    ).collect()[0].g
    assert out == "b,a"


def test_json_arrayagg_sorted(spark):
    df = spark.createDataFrame([(2,), (1,)], ["v"])
    out = df.agg(dialect.json_arrayagg("v").alias("j")).collect()[0].j
    assert out == "[1,2]"


def test_div_exact_beyond_double_precision(engine):
    # 2^60 + 1 is not representable in double; double-division DIV would
    # round. The integral path must return the exact truncated quotient.
    big = (1 << 60) + 1
    q = engine.execute(f"SELECT {big} DIV 2 AS q").collect()[0].q
    assert q == big // 2


def test_div_truncates_toward_zero_and_null_on_zero(engine):
    row = engine.execute(
        "SELECT -7 DIV 2 AS a, 7 DIV -2 AS b, 5 DIV 0 AS c,"
        " 5 DIV (2 - 2) AS d"
    ).collect()[0]
    # MariaDB DIV truncates toward zero: -7 DIV 2 = -3 (not floor's -4),
    # and a zero divisor gives NULL, not an error
    assert tuple(row) == (-3, -3, None, None)


def test_if_and_ifnull(spark):
    df = spark.createDataFrame([(None, 5)], "a int, b int")
    row = df.select(
        dialect.ifnull(F.col("a"), F.col("b")).alias("x"),
        dialect.if_(F.col("b") > 1, F.lit("y"), F.lit("n")).alias("y"),
    ).collect()[0]
    assert row.x == 5 and row.y == "y"


def test_concat_oracle_null_as_empty(spark):
    df = spark.createDataFrame([("a", None)], "x string, y string")
    out = df.select(
        dialect.concat_oracle(F.col("x"), F.col("y"), F.lit("z")).alias("c")
    ).collect()[0].c
    assert out == "az"  # plain concat would return NULL


def test_decode_oracle_null_matches_null(spark):
    df = spark.createDataFrame([(None,), (1,), (2,)], "x int")
    out = [
        r.d
        for r in df.select(
            "x",
            dialect.decode_oracle(
                F.col("x"),
                F.lit(None).cast("int"), F.lit("was-null"),
                F.lit(1), F.lit("one"),
                F.lit("other"),
            ).alias("d"),
        )
        .orderBy(F.col("x").asc_nulls_first())
        .collect()
    ]
    assert out == ["was-null", "one", "other"]


def test_inet_aton_ntoa_roundtrip(spark):
    df = spark.createDataFrame([("192.168.1.10",)], "ip string")
    row = df.select(
        dialect.inet_aton(F.col("ip")).alias("n"),
        dialect.inet_ntoa(dialect.inet_aton(F.col("ip"))).alias("rt"),
    ).collect()[0]
    assert row.n == 192 * 16777216 + 168 * 65536 + 256 + 10
    assert row.rt == "192.168.1.10"


def test_greatest_mariadb_null_propagates(engine):
    # Spark's greatest skips NULLs: it would give 1, 'a' and 1
    row = engine.execute(
        "SELECT GREATEST(1, NULL) AS n1, GREATEST('a', NULL) AS n2,"
        " GREATEST(a, b) AS n3, GREATEST(3, 2, 1) AS g"
        " FROM (SELECT 1 AS a, CAST(NULL AS INT) AS b) AS t"
    ).collect()[0]
    assert (row.n1, row.n2, row.n3, row.g) == (None, None, None, 3)


def test_cast_signed_rounds_half_away(spark):
    df = spark.createDataFrame(
        [(2.5,), (-2.5,), (2.4,)], "x double"
    )
    out = [
        r.c
        for r in df.select(dialect.cast_signed(F.col("x")).alias("c"))
        .orderBy("x")
        .collect()
    ]
    assert out == [-3, 2, 3]  # MariaDB CAST(2.5 AS SIGNED)=3, not trunc 2


def test_sec_to_time_and_back(spark):
    df = spark.createDataFrame([(3661,), (-90,), (0,)], "s long")
    rows = {
        r.s: (r.t, r.back)
        for r in df.select(
            "s",
            dialect.sec_to_time(F.col("s")).alias("t"),
            dialect.time_to_sec(dialect.sec_to_time(F.col("s"))).alias("back"),
        ).collect()
    }
    assert rows[3661][0] == "01:01:01"
    assert rows[-90][0] == "-00:01:30"
    assert rows[0][0] == "00:00:00"
    assert all(back == s for s, (_, back) in rows.items())


def test_cast_signed_str_truncation(engine):
    row = engine.execute(
        "SELECT CAST('12abc' AS SIGNED) AS a, CAST('abc' AS SIGNED) AS b,"
        " CAST('-7x' AS SIGNED) AS c, CAST(' 42 ' AS SIGNED) AS d,"
        " CAST('' AS SIGNED) AS e"
    ).collect()[0]
    assert tuple(row) == (12, 0, -7, 42, 0)


def test_least_mariadb_null_propagates(engine):
    row = engine.execute(
        "SELECT LEAST(1, NULL) AS n1, LEAST('a', NULL) AS n2,"
        " LEAST(3, 2) AS l, LEAST(GREATEST(5, 1), 4) AS nested"
    ).collect()[0]
    assert (row.n1, row.n2, row.l, row.nested) == (None, None, 2, 4)


def test_insert_str_edge_semantics(engine):
    cases = [
        ("'Quadratic', 3, 4, 'What'", "QuWhattic"),
        ("'Quadratic', -1, 4, 'What'", "Quadratic"),   # pos < 1 → unchanged
        ("'Quadratic', 11, 4, 'What'", "Quadratic"),   # pos > len → unchanged
        ("'Quadratic', 3, 100, 'What'", "QuWhat"),     # len past end
        ("'Quadratic', 3, -1, 'What'", "QuWhat"),      # negative len
        ("'Quadratic', 9, 2, 'X'", "QuadratiX"),       # pos == len ok
        ("NULL, 1, 1, 'x'", None),
    ]
    row = engine.execute(
        "SELECT " + ", ".join(
            f"INSERT({args}) AS c{i}" for i, (args, _) in enumerate(cases)
        )
    ).collect()[0]
    assert list(row) == [expected for _, expected in cases]


def test_get_format_table(engine):
    v = engine.execute(
        "SELECT GET_FORMAT(DATE, 'USA') AS a, GET_FORMAT(TIME, 'usa') AS b,"
        " GET_FORMAT(TIMESTAMP, 'ISO') AS c, GET_FORMAT(DATE, 'NOPE') AS d"
    ).collect()[0]
    assert v.a == "%m.%d.%Y"
    assert v.b == "%h:%i:%s %p"
    assert v.c == "%Y-%m-%d %H:%i:%s"
    assert v.d is None


def test_sysdate_is_query_time(engine):
    """SYSDATE([p]) is the statement's timestamp at precision p (default
    0); Spark fixes current_timestamp per query."""
    import datetime as dt

    row = engine.execute(
        "SELECT SYSDATE() AS t0, SYSDATE(6) AS t6, SYSDATE(3) AS t3"
    ).collect()[0]
    assert abs((dt.datetime.now() - row.t6).total_seconds()) < 300
    assert row.t0 == row.t6.replace(microsecond=0)
    ms = row.t6.microsecond // 1000 * 1000
    assert row.t3 == row.t6.replace(microsecond=ms)


def test_date_format_mariadb_patterns(spark):
    import datetime as dt

    from mariadb_columnstore_engine_spark.functions.dialect import (
        date_format_mariadb,
        str_to_date,
        translate_date_format,
    )

    ts = F.lit(dt.datetime(2024, 3, 5, 14, 7, 9)).cast("timestamp")
    row = spark.range(1).select(
        date_format_mariadb(ts, "%Y-%m-%d %H:%i:%s").alias("a"),
        date_format_mariadb(ts, "%W %M %e %Y").alias("b"),
        date_format_mariadb(ts, "%h:%i %p").alias("c"),
        date_format_mariadb(ts, "%d%% done").alias("d"),
        date_format_mariadb(ts, "%T").alias("e"),
    ).collect()[0]
    assert row.a == "2024-03-05 14:07:09"
    assert row.b == "Tuesday March 5 2024"
    assert row.c == "02:07 PM"
    assert row.d == "05% done"
    assert row.e == "14:07:09"

    r2 = spark.range(1).select(
        str_to_date(F.lit("05/03/2024"), "%d/%m/%Y").alias("d"),
        str_to_date(F.lit("2024-03-05 14:07"), "%Y-%m-%d %H:%i").alias("t"),
    ).collect()[0]
    assert r2.d == dt.date(2024, 3, 5)          # DATE: no time part
    assert r2.t == dt.datetime(2024, 3, 5, 14, 7)

    import pytest

    with pytest.raises(ValueError):
        translate_date_format("%v")  # week-based: week_mode territory
    # GET_FORMAT output feeds straight in
    assert translate_date_format("%m.%d.%Y") == "MM'.'dd'.'yyyy"


def test_date_format_week_and_ordinal_specifiers(spark):
    import datetime as dt

    from mariadb_columnstore_engine_spark.functions.dialect import (
        date_format_mariadb,
    )

    cases = [
        (dt.date(1987, 1, 1), "%X-%V", "1986-52"),   # Sunday-week year
        (dt.date(2008, 12, 29), "%x-%v", "2009-01"), # ISO year rollover
        (dt.date(2008, 2, 20), "%U", "07"),
        (dt.date(2008, 2, 20), "%u", "08"),
        (dt.date(2024, 3, 5), "%D of %M", "5th of March"),
        (dt.date(2024, 3, 1), "%M %D, %Y", "March 1st, 2024"),
        (dt.date(2024, 3, 11), "%D", "11th"),
        (dt.date(2024, 3, 22), "%D", "22nd"),
    ]
    for d, fmt, expected in cases:
        got = (
            spark.range(1)
            .select(date_format_mariadb(F.lit(d), fmt).alias("v"))
            .collect()[0]
            .v
        )
        assert got == expected, (d, fmt, got, expected)


def test_maketime_makedate_subtime(spark):
    from mariadb_columnstore_engine_spark.functions import dialect as d

    row = (
        spark.range(1)
        .select(
            d.maketime(F.lit(1), F.lit(2), F.lit(3)).alias("basic"),
            d.maketime(F.lit(-3), F.lit(7), F.lit(30)).alias("neg_hour"),
            d.maketime(F.lit(130), F.lit(0), F.lit(1)).alias("big_hour"),
            d.maketime(F.lit(1), F.lit(61), F.lit(0)).alias("bad_minute"),
            d.makedate(F.lit(2024), F.lit(60)).alias("leap_doy"),
            d.makedate(F.lit(2023), F.lit(0)).alias("doy_zero"),
            d.makedate(F.lit(2023), F.lit(366)).alias("doy_rollover"),
            d.subtime(
                F.lit("2024-03-15 12:00:00").cast("timestamp_ntz"),
                F.lit("02:30:00"),
            )
            .cast("string")
            .alias("sub"),
            d.subtime(
                F.lit("2024-03-15 12:00:00").cast("timestamp_ntz"),
                F.lit("-01:00:00"),
            )
            .cast("string")
            .alias("sub_neg"),
        )
        .collect()[0]
    )
    assert row.basic == "01:02:03"
    # sign applies to the whole TIME; minute/second magnitudes still add
    assert row.neg_hour == "-03:07:30"
    # hours beyond 99 are not truncated (MariaDB TIME allows them)
    assert row.big_hour == "130:00:01"
    assert row.bad_minute is None
    assert str(row.leap_doy) == "2024-02-29"
    assert row.doy_zero is None  # MariaDB: dayofyear < 1 -> NULL
    assert str(row.doy_rollover) == "2024-01-01"  # rolls into next year
    assert row.sub == "2024-03-15 09:30:00"
    assert row.sub_neg == "2024-03-15 13:00:00"


def test_oracle_trim_replace_empty_is_null(spark, sf_dir):
    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    eng.execute("SET sql_mode=ORACLE")
    row = eng.execute(
        "SELECT TRIM('  x  ') AS t1, TRIM('   ') AS t2,"
        " REPLACE('aba', 'a', NULL) AS p1, REPLACE('aa', 'a', NULL) AS p2,"
        " REPLACE('aba', 'b', 'c') AS p3 FROM dual"
    ).collect()[0]
    assert row.t1 == "x" and row.t2 is None
    # NULL replacement removes occurrences (Oracle NULL ≡ '')
    assert row.p1 == "b"
    # ...and a fully-removed string collapses to NULL
    assert row.p2 is None
    assert row.p3 == "aca"


def test_empty_string_is_not_null(spark, tmp_path):
    """mcol271-empty-string-is-not-null.test: '' and NULL are distinct
    values — '' IS NOT NULL, equals itself, LENGTH 0 — and both survive
    a parquet round trip distinctly (unlike Oracle's ''≡NULL)."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, ""), (2, None), (3, "x")], ["id", "s"])
    p = str(tmp_path / "es")
    df.write.parquet(p)
    back = spark.read.parquet(p)
    rows = {r.id: r for r in back.select(
        "id",
        F.col("s").isNull().alias("is_null"),
        (F.col("s") == "").alias("eq_empty"),
        F.length("s").alias("ln"),
    ).collect()}
    assert (rows[1].is_null, rows[1].eq_empty, rows[1].ln) == (False, True, 0)
    assert rows[2].is_null and rows[2].eq_empty is None and rows[2].ln is None
    assert (rows[3].is_null, rows[3].eq_empty, rows[3].ln) == (False, False, 1)
    # aggregation treats them differently too: COUNT skips NULL only
    agg = back.agg(
        F.count("s").alias("cnt"), F.count(F.lit(1)).alias("cnt_star")
    ).collect()[0]
    assert (agg.cnt, agg.cnt_star) == (2, 3)
