"""MariaDB → Spark SQL translation (functions/sqltrans.py + Engine.sql).

String-level rewrites are pinned first; execution tests then run real
MariaDB-dialect statements through Engine.sql against the fixtures and
check values (DuckDB or DataFrame-computed expectations).
"""

from __future__ import annotations

import pytest

from mariadb_columnstore_engine_spark.functions.sqltrans import (
    translate_statement,
)


# --- string-level rewrites -------------------------------------------------

def test_ansi_passthrough():
    q = "SELECT a, sum(b) FROM t WHERE c = 'x # not a comment' GROUP BY a"
    assert translate_statement(q) == q


def test_hash_comment_and_semicolon():
    assert (
        translate_statement("SELECT 1 # trailing note\nFROM t;")
        == "SELECT 1 -- trailing note\nFROM t"
    )


def test_select_options_stripped():
    assert (
        translate_statement("SELECT SQL_CALC_FOUND_ROWS SQL_NO_CACHE a FROM t")
        == "SELECT a FROM t"
    )


def test_straight_join_forms():
    assert (
        translate_statement("SELECT STRAIGHT_JOIN a FROM t1 STRAIGHT_JOIN t2 ON x = y")
        == "SELECT a FROM t1 JOIN t2 ON x = y"
    )


def test_limit_offset_comma():
    assert (
        translate_statement("SELECT a FROM t ORDER BY a LIMIT 5, 10")
        == "SELECT a FROM t ORDER BY a LIMIT 10 OFFSET 5"
    )
    # plain LIMIT untouched; comma inside a literal untouched
    q = "SELECT ',' FROM t LIMIT 10"
    assert translate_statement(q) == q


def test_group_concat_full_form():
    assert (
        translate_statement(
            "SELECT GROUP_CONCAT(DISTINCT n_name ORDER BY n_name DESC"
            " SEPARATOR '|') FROM nation"
        )
        == "SELECT aggregate(array_compact(array_distinct(transform("
        "sort_array(collect_list(struct((n_name) AS k, (n_name) AS v)),"
        " false), s -> s.v))), CAST(NULL AS STRING),"
        " (acc, s) -> concat_ws('|', acc, CAST(s AS STRING))) FROM nation"
    )


def test_group_concat_bare_and_nested_args():
    assert (
        translate_statement("SELECT GROUP_CONCAT(concat(a, ',', b)) FROM t")
        == "SELECT listagg(concat(a, ',', b), ',') FROM t"
    )


def test_group_concat_limit_rewrites():
    # MariaDB 10.6 GROUP_CONCAT LIMIT → collect/sort/slice pipeline
    got = translate_statement("SELECT GROUP_CONCAT(a LIMIT 3) FROM t")
    assert "slice" in got and "sort_array(collect_list(a))" in got
    got = translate_statement(
        "SELECT GROUP_CONCAT(DISTINCT a ORDER BY b DESC"
        " SEPARATOR '|' LIMIT 2) FROM t"
    )
    assert "array_distinct" in got and "false)" in got
    with pytest.raises(ValueError, match="trailing integer"):
        translate_statement("SELECT GROUP_CONCAT(a LIMIT n) FROM t")


def test_date_format_translated(spark):
    assert (
        translate_statement("SELECT DATE_FORMAT(o_orderdate, '%Y-%m') FROM orders")
        == "SELECT date_format(o_orderdate, 'yyyy\\'-\\'MM') FROM orders"
    )


def test_str_to_date_translated(spark):
    # MariaDB's type contract (func_str_to_date.cpp): DATE for a
    # date-only format, DATETIME when the format has a time part
    import datetime

    q = translate_statement(
        "SELECT STR_TO_DATE('04/03/2020', '%d/%m/%Y') AS d,"
        " STR_TO_DATE('04/03/2020 10:11', '%d/%m/%Y %H:%i') AS ts"
    )
    df = spark.sql(q)
    assert [f.dataType.simpleString() for f in df.schema] == [
        "date", "timestamp"
    ]
    row = df.collect()[0]
    assert row.d == datetime.date(2020, 3, 4)
    assert row.ts == datetime.datetime(2020, 3, 4, 10, 11)


def test_week_specifier_needs_session():
    # week-based specifiers translate via the Catalyst bridge, which
    # needs an active session — absent one, the error says so
    # (the happy path is test_date_format_week_specifiers_no_longer_raise)
    from pyspark.sql import SparkSession

    if (
        SparkSession.getActiveSession() is None
        and SparkSession._instantiatedSession is None
    ):
        with pytest.raises(ValueError, match="active SparkSession"):
            translate_statement("SELECT DATE_FORMAT(d, '%X-%V') FROM t")


def test_rewrites_never_fire_inside_literals():
    q = (
        "SELECT 'GROUP_CONCAT(x SEPARATOR 1) LIMIT 1, 2 # DATE_FORMAT', a"
        " FROM t"
    )
    assert translate_statement(q) == q


# --- execution through Engine.sql ------------------------------------------

@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    from mariadb_columnstore_engine_spark.engine import Engine

    return Engine(spark, sf_dir)


def test_engine_runs_mariadb_statement(engine):
    rows = engine.sql(
        "SELECT n_regionkey, # per-region roster\n"
        "       GROUP_CONCAT(n_name ORDER BY n_name SEPARATOR '|') AS names\n"
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey LIMIT 1, 2;"
    ).collect()
    assert len(rows) == 2
    assert rows[0].n_regionkey == 1  # OFFSET 1 skipped region 0
    names = rows[0].names.split("|")
    assert names == sorted(names) and len(names) == 5


def test_engine_date_format_matches_duckdb(engine, duck):
    got = {
        (r.ym, r.n)
        for r in engine.sql(
            "SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS ym,"
            " count(*) AS n FROM orders GROUP BY ym"
        ).collect()
    }
    want = set(
        duck.execute(
            "SELECT strftime(o_orderdate, '%Y-%m') AS ym,"
            " count(*) AS n FROM orders GROUP BY ym"
        ).fetchall()
    )
    assert got == want


def test_fn_templates_execute_known_vectors(spark):
    """The inline-expression rewrites reproduce MariaDB documented values."""
    got = spark.sql(
        translate_statement(
            "SELECT TO_DAYS(DATE '1997-10-07') AS d,"
            " FROM_DAYS(729669) AS rt,"
            " TIME_TO_SEC(TIMESTAMP '2000-01-01 22:23:00') AS tts,"
            " SEC_TO_TIME(2378) AS stt,"
            " FORMAT(12332.123456, 4) AS fm,"
            " INET_ATON('10.0.5.9') AS ia,"
            " INET_NTOA(167773449) AS inn"
        )
    ).collect()[0]
    assert got.d == 729669  # MariaDB docs TO_DAYS example
    assert str(got.rt) == "1997-10-07"
    assert got.tts == 80580 and got.stt == "00:39:38"
    assert got.fm == "12,332.1235"
    assert got.ia == 167773449 and got.inn == "10.0.5.9"


def test_interval_arith_rewrite(spark):
    assert (
        translate_statement("SELECT DATE_ADD(d, INTERVAL 31 DAY) FROM t")
        == "SELECT (d + INTERVAL 31 DAY) FROM t"
    )
    assert (
        translate_statement("SELECT SUBDATE(d, INTERVAL 2 MONTH) FROM t")
        == "SELECT (d - INTERVAL 2 MONTH) FROM t"
    )
    # integer-days form is Spark-native, untouched
    q = "SELECT DATE_ADD(d, 7) FROM t"
    assert translate_statement(q) == q
    row = spark.sql(
        translate_statement(
            "SELECT DATE_ADD(DATE '1998-01-02', INTERVAL 31 DAY) AS x"
        )
    ).collect()[0]
    assert str(row.x) == "1998-02-02"


def test_week_functions_via_catalyst_bridge(spark):
    """WEEK/YEARWEEK SQL rewrites must agree with the (unit-tested)
    dialect Column implementation — same engine, same semantics."""
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.functions import dialect

    dates = ["2000-01-01", "2016-01-03", "2023-01-01", "2024-12-30",
             "1998-12-31"]
    df = spark.createDataFrame([(d,) for d in dates], "d string").select(
        F.col("d").cast("date").alias("d")
    )
    for mode in (0, 1, 3, 7):
        via_sql = [
            r.w
            for r in df.selectExpr(
                translate_statement(f"SELECT WEEK(d, {mode}) AS w").replace(
                    "SELECT ", ""
                )
            ).collect()
        ]
        via_col = [
            r.w
            for r in df.select(
                dialect.week_mode(F.col("d"), mode).alias("w")
            ).collect()
        ]
        assert via_sql == via_col, f"mode {mode}"
    yw_sql = df.selectExpr(
        translate_statement("SELECT YEARWEEK(d) AS w").replace("SELECT ", "")
    ).collect()
    yw_col = df.select(
        dialect.yearweek_mode(F.col("d"), 0).alias("w")
    ).collect()
    assert [r.w for r in yw_sql] == [r.w for r in yw_col]


def test_date_format_week_specifiers_no_longer_raise(spark):
    q = translate_statement(
        "SELECT DATE_FORMAT(DATE '2000-01-01', '%X-%V') AS xv"
    )
    row = spark.sql(q).collect()[0]
    # MariaDB: SELECT DATE_FORMAT('2000-01-01', '%X-%V') -> '1999-52'
    assert row.xv == "1999-52"


def test_week_specifier_translates_from_worker_thread(spark):
    # getActiveSession() is JVM-thread-local and py4j gives each Python
    # thread its own JVM thread, so a worker thread that never touched
    # the session sees None there — the Catalyst bridge must fall back
    # to the process-global instantiated session (8-thread concurrency
    # probe regression: sql_mariadb_front_end2 failed only when a cold
    # template cache was first hit from a worker thread).
    import threading

    from mariadb_columnstore_engine_spark.functions import sqltrans

    saved = dict(sqltrans._TPL_CACHE)
    sqltrans._TPL_CACHE.clear()  # force the render path, not a cache hit
    result: dict = {}

    def worker():
        try:
            result["q"] = translate_statement(
                "SELECT DATE_FORMAT(DATE '2000-01-01', '%X-%V') AS xv"
            )
        except Exception as ex:  # noqa: BLE001 — recorded for the assert
            result["err"] = ex

    try:
        t = threading.Thread(target=worker)
        t.start()
        t.join(60)
        assert "err" not in result, f"worker-thread translate: {result.get('err')}"
        assert spark.sql(result["q"]).collect()[0].xv == "1999-52"
    finally:
        sqltrans._TPL_CACHE.update(saved)


# --- round-4 rewrites: WITH ROLLUP, CONVERT, CAST AS SIGNED/UNSIGNED ------

def test_with_rollup_rewrite():
    assert (
        translate_statement(
            "SELECT a, b, count(*) FROM t GROUP BY a, b WITH ROLLUP"
        )
        == "SELECT a, b, count(*) FROM t GROUP BY ROLLUP(a, b)"
    )
    # terminators stop the column capture
    assert (
        translate_statement(
            "SELECT a FROM t GROUP BY a WITH ROLLUP HAVING count(*) > 1"
        )
        == "SELECT a FROM t GROUP BY ROLLUP(a) HAVING count(*) > 1"
    )
    # plain GROUP BY untouched
    q = "SELECT a FROM t GROUP BY a ORDER BY a"
    assert translate_statement(q) == q


def test_with_rollup_subquery_scoped():
    # inner WITH ROLLUP must bind to the INNER group-by only
    got = translate_statement(
        "SELECT * FROM (SELECT a, count(*) AS n FROM t "
        "GROUP BY a WITH ROLLUP) s GROUP BY s.a"
    )
    assert "GROUP BY ROLLUP(a)" in got
    assert got.rstrip().endswith("GROUP BY s.a")


def test_cast_signed_unsigned_targets():
    # numeric targets lower to the loose-semantics form (r8): a string
    # operand parses its leading numeric prefix like MariaDB
    # my_strtoll10; non-strings keep the plain Spark cast (ELSE branch)
    got = translate_statement("SELECT CAST(x AS SIGNED) FROM t")
    assert "typeof((x)) LIKE 'string%'" in got
    assert "AS BIGINT)" in got
    assert "'^ *[+-]?[0-9]+'" in got  # integer prefix, stops at '.'
    got = translate_statement("SELECT CAST(x AS UNSIGNED INTEGER) FROM t")
    assert "AS DECIMAL(20,0))" in got
    # u64 wrap of negatives: single-reference pmod form
    assert "pmod(" in got and "18446744073709551616)" in got
    assert (
        translate_statement("SELECT CAST(x AS CHAR) FROM t")
        == "SELECT CAST(x AS STRING) FROM t"
    )


def test_convert_two_arg_form():
    got = translate_statement("SELECT CONVERT(x, SIGNED) FROM t")
    assert "typeof((x)) LIKE 'string%'" in got and "AS BIGINT)" in got
    assert "CONVERT" not in got
    # MariaDB CHAR(n) conversion truncates (Spark CHAR(n) pads) — the
    # rewrite spells out the truncation
    assert (
        translate_statement("SELECT CONVERT(x, CHAR(8)) FROM t")
        == "SELECT substring(CAST(x AS STRING), 1, 8) FROM t"
    )
    assert (
        "AS DECIMAL(10,2))"
        in translate_statement("SELECT CONVERT(x, DECIMAL(10,2)) FROM t")
    )
    with pytest.raises(ValueError, match="CONVERT"):
        translate_statement("SELECT CONVERT(x, BLOB) FROM t")


def test_convert_using_charset_form():
    # CONVERT(x USING charset): Spark strings are UTF-8, so a charset
    # transcode is a documented no-op cast-to-string (binary keeps bytes)
    assert (
        translate_statement("SELECT CONVERT(x USING utf8mb4) FROM t")
        == "SELECT CAST(x AS STRING) FROM t"
    )
    assert (
        translate_statement("SELECT CONVERT(x USING latin1) FROM t")
        == "SELECT CAST(x AS STRING) FROM t"
    )
    assert (
        translate_statement("SELECT CONVERT(x USING binary) FROM t")
        == "SELECT CAST(x AS BINARY) FROM t"
    )
    with pytest.raises(ValueError, match="charset"):
        translate_statement("SELECT CONVERT(x USING klingon) FROM t")


def test_json_table_translation(spark):
    """MariaDB 10.6 JSON_TABLE → posexplode/from_json lateral views:
    PATH columns with types, FOR ORDINALITY (1-based, resets per parent
    row), NESTED PATH, DEFAULT .. ON EMPTY, EXISTS PATH, and OUTER rows
    for documents missing the nested array."""
    doc = (
        '[{"name":"a","qty":2,"tags":["x","y"]},'
        '{"name":"b","qty":5,"tags":["z"]},{"name":"c"}]'
    )
    rows = spark.sql(
        translate_statement(
            f"""SELECT jt.rid, jt.name, jt.qty, jt.has_tags,
                       jt.tag_ord, jt.tag
            FROM JSON_TABLE('{doc}', '$[*]' COLUMNS(
                rid FOR ORDINALITY,
                name VARCHAR(20) PATH '$.name',
                qty INT PATH '$.qty' DEFAULT '0' ON EMPTY,
                has_tags INT EXISTS PATH '$.tags',
                NESTED PATH '$.tags[*]' COLUMNS(
                    tag_ord FOR ORDINALITY,
                    tag VARCHAR(10) PATH '$'
                ))) AS jt
            ORDER BY jt.rid, jt.tag_ord"""
        )
    ).collect()
    got = [tuple(r) for r in rows]
    assert got == [
        (1, "a", 2, 1, 1, "x"),
        (1, "a", 2, 1, 2, "y"),
        (2, "b", 5, 1, 1, "z"),
        (3, "c", 0, 0, None, None),  # OUTER row, DEFAULT fired
    ]


def test_json_table_lateral_column_source(spark):
    # comma-joined JSON_TABLE over a column reference → LATERAL derived
    # table (MariaDB's implicit laterality)
    rows = spark.sql(
        translate_statement(
            """SELECT t.id, jt.v FROM
            (SELECT 1 AS id, '[10,20]' AS doc) t,
            JSON_TABLE(t.doc, '$[*]' COLUMNS(v INT PATH '$')) AS jt
            ORDER BY jt.v"""
        )
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 10), (1, 20)]


@pytest.fixture()
def engine_with_table(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "t1")
    spark.range(0, 10).select(
        F.col("id"),
        (F.col("id") * 10).cast("double").alias("val"),
        F.concat(F.lit("n"), F.col("id")).alias("note"),
    ).write.parquet(path)
    eng.attach_table("t1", path, keys=["id"])
    return eng


def test_engine_insert_select_with_mariadb_functions(engine_with_table):
    """INSERT ... SELECT through the statement router must run its source
    through the MariaDB dialect pass (CONCAT over CAST AS SIGNED here)."""
    eng = engine_with_table
    n = eng.execute(
        "INSERT INTO t1 (id, note) "
        "SELECT CAST(id AS SIGNED) + 200, CONCAT('x', CAST(id AS CHAR)) "
        "FROM t1 WHERE id < 3"
    )
    assert n == 13
    rows = {
        r.id: r.note
        for r in eng.execute(
            "SELECT id, note FROM t1 WHERE id >= 200"
        ).collect()
    }
    assert rows == {200: "x0", 201: "x1", 202: "x2"}


def test_run_script_mariadb_mixed_statements(engine_with_table):
    """Multi-statement script: MariaDB-dialect DML + rollup SELECT in one
    run_script pass (split_script + per-statement translation)."""
    eng = engine_with_table
    results = eng.run_script(
        "INSERT INTO t1 (id, val) VALUES (300, 30.0);\n"
        "UPDATE t1 SET note = CONCAT('v=', CAST(val AS CHAR)) "
        "WHERE id = 300;\n"
        "SELECT coalesce(CAST(id % 2 AS CHAR), 'ALL') AS bucket, "
        "count(*) AS n FROM t1 GROUP BY id % 2 WITH ROLLUP;"
    )
    # DML returns the table's new TOTAL row count (copy-on-write)
    assert results[0] == 11 and results[1] == 11
    out = {r.bucket: r.n for r in results[2].collect()}
    assert out["ALL"] == 11  # rollup super-aggregate row
    note = eng.execute("SELECT note FROM t1 WHERE id = 300").collect()[0].note
    assert note == "v=30.0"


def test_cast_char_n_truncates_and_nested_convert():
    # CAST(x AS CHAR(n)) truncates like MariaDB (Spark CHAR(n) pads)
    assert (
        translate_statement("SELECT CAST(x AS CHAR(5)) FROM t")
        == "SELECT substring(CAST(x AS STRING), 1, 5) FROM t"
    )
    # nested casts both rewrite
    got = translate_statement(
        "SELECT CAST(concat(a, CAST(b AS CHAR(3))) AS CHAR(8)) FROM t"
    )
    assert got == (
        "SELECT substring(CAST(concat(a, substring(CAST(b AS STRING),"
        " 1, 3)) AS STRING), 1, 8) FROM t"
    )
    # nested CONVERT fully translates (no CONVERT may reach Spark);
    # the numeric outer target carries the loose-cast lowering
    got = translate_statement("SELECT CONVERT(CONVERT(x, CHAR), SIGNED) FROM t")
    assert "CONVERT" not in got
    # the non-trivial operand is bound exactly once (r10: a single
    # array element feeds every typeof-dispatch arm via a lambda var)
    assert got.count("CAST(x AS STRING)") == 1
    assert "typeof(__lc0) LIKE 'string%'" in got


def test_fn_templates_round4_vectors(spark):
    """Round-4 template batch: STRCMP / SPACE / OCT / MAKEDATE /
    PERIOD_ADD / PERIOD_DIFF / FIELD (MariaDB documented examples)."""
    got = spark.sql(
        translate_statement(
            "SELECT STRCMP('text', 'text2') AS c1,"
            " STRCMP('text2', 'text') AS c2,"
            " STRCMP('text', 'text') AS c3,"
            " STRCMP(NULL, 'x') AS c4,"
            " concat('[', SPACE(3), ']') AS sp,"
            " OCT(34) AS o,"
            " MAKEDATE(2011, 31) AS md,"
            " MAKEDATE(2011, 0) AS md0,"
            " PERIOD_ADD(200801, 2) AS pa,"
            " PERIOD_ADD(6801, 2) AS pa2,"
            " PERIOD_DIFF(200802, 200703) AS pd,"
            " FIELD('b', 'a', 'b', 'c') AS f1,"
            " FIELD('z', 'a', 'b', 'c') AS f2,"
            " FIELD(NULL, 'a', 'b') AS f3"
        )
    ).collect()[0]
    assert (got.c1, got.c2, got.c3, got.c4) == (-1, 1, 0, None)
    assert got.sp == "[   ]"
    assert got.o == "42"
    assert str(got.md) == "2011-01-31" and got.md0 is None
    assert got.pa == 200803
    assert got.pa2 == 206803  # YYMM: 68 → 2068 (70-cutoff rule)
    assert got.pd == 11
    assert (got.f1, got.f2, got.f3) == (2, 0, 0)


def test_timediff_addtime_subtime_vectors(spark):
    got = spark.sql(
        translate_statement(
            "SELECT TIMEDIFF(TIMESTAMP '2000-01-01 12:00:00',"
            "  TIMESTAMP '2000-01-01 10:30:05') AS td,"
            " TIMEDIFF(TIMESTAMP '2000-01-01 10:00:00',"
            "  TIMESTAMP '2000-01-01 12:00:00') AS tdneg,"
            " ADDTIME(TIMESTAMP '2007-12-31 23:59:59',"
            "  TIMESTAMP '1970-01-01 01:01:01') AS at,"
            " SUBTIME(TIMESTAMP '2008-01-01 01:01:00',"
            "  TIMESTAMP '1970-01-01 01:01:01') AS st"
        )
    ).collect()[0]
    assert got.td == "01:29:55"
    assert got.tdneg == "-02:00:00"
    assert str(got.at) == "2008-01-01 01:01:00"
    assert str(got.st) == "2007-12-31 23:59:59"


def test_group_concat_limit_executes(spark):
    df = spark.createDataFrame(
        [("g", "b", 2), ("g", "a", 1), ("g", "c", 3), ("g", "a", 4)],
        "g string, s string, k int",
    )
    df.createOrReplaceTempView("_gc_lim")
    row = spark.sql(
        translate_statement(
            "SELECT g,"
            " GROUP_CONCAT(s ORDER BY k SEPARATOR '-' LIMIT 3) AS top3,"
            " GROUP_CONCAT(DISTINCT s ORDER BY k SEPARATOR ','"
            "   LIMIT 2) AS d2,"
            " GROUP_CONCAT(s LIMIT 2) AS plain2"
            " FROM _gc_lim GROUP BY g"
        )
    ).collect()[0]
    assert row.top3 == "a-b-c"  # ordered by k: a(1), b(2), c(3)
    assert row.d2 == "a,b"  # distinct after ordering, first two
    assert row.plain2 == "a,a"  # value-sorted, first two


def test_group_concat_expr_list_concatenates(spark):
    # GROUP_CONCAT(e1, e2) is MariaDB's per-row expr concat — e2 must
    # NOT become listagg's separator
    df = spark.createDataFrame(
        [("g", "a", "1"), ("g", "b", None)], "g string, s string, t string"
    )
    df.createOrReplaceTempView("_gc_multi")
    row = spark.sql(
        translate_statement(
            "SELECT g, GROUP_CONCAT(s, t ORDER BY s SEPARATOR ';') AS c"
            " FROM _gc_multi GROUP BY g"
        )
    ).collect()[0]
    # (b, NULL) row → concat NULL → skipped, MariaDB-style
    assert row.c == "a1"


def test_truncate_and_insert_vectors(spark):
    got = spark.sql(
        translate_statement(
            "SELECT TRUNCATE(0.29, 1) AS t1,"
            " TRUNCATE(-1.999, 1) AS t2,"
            " TRUNCATE(123.45, -1) AS t3,"
            " TRUNCATE(28.99, 0) AS t4,"
            " INSERT('Quadratic', 3, 4, 'What') AS i1,"
            " INSERT('Quadratic', -1, 4, 'What') AS i2,"
            " INSERT('Quadratic', 3, 100, 'What') AS i3,"
            " INSERT('Quadratic', 3, -1, 'What') AS i4,"
            " INSERT('Quadratic', 3, 4, NULL) AS i5"
        )
    ).collect()[0]
    assert got.t1 == 0.2  # the double-arith trap case (0.29*10)
    assert got.t2 == -1.9
    assert got.t3 == 120.0
    assert got.t4 == 28.0
    assert got.i1 == "QuWhattic"  # MariaDB doc example
    assert got.i2 == "Quadratic"  # pos out of range → unchanged
    assert got.i3 == "QuWhat"  # len past end → replace rest
    assert got.i4 == "QuWhat"  # negative len → replace rest
    assert got.i5 is None


def test_mid_ord_makeset_char_vectors(spark):
    got = spark.sql(
        translate_statement(
            "SELECT MID('Quadratic', 3, 4) AS m,"
            " ORD('2') AS o,"
            " MAKE_SET(1 | 4, 'hello', 'nice', 'world') AS ms,"
            " MAKE_SET(1 | 4, 'hello', 'nice', NULL, 'world') AS msn,"
            " MAKE_SET(0, 'a', 'b') AS ms0,"
            " CHAR(77, 77.3, 256 % 256 + 77) AS ch,"
            " CHAR(77, NULL, 78) AS chn,"
            " CAST('x' AS CHAR(50)) AS castok"
        )
    ).collect()[0]
    assert got.m == "adra"  # MariaDB doc example
    assert got.o == 50
    assert got.ms == "hello,world"
    assert got.msn == "hello"  # bit-2 member is NULL → skipped (doc ex.)
    assert got.ms0 == ""
    assert got.ch.startswith("MM")  # 77.3 rounds per char() cast
    assert got.chn == "MN"  # NULL arg skipped
    assert got.castok == "x"


def test_to_seconds_and_sql_tsi_units(spark):
    """mcs250_to_seconds_function / mcs277_timestampadd_function:
    TO_SECONDS MariaDB doc vectors; ODBC SQL_TSI_ unit spellings map to
    Spark's bare unit keywords (literals stay mask-protected)."""
    got = spark.sql(
        translate_statement(
            "SELECT TO_SECONDS(TIMESTAMP '2009-11-29 13:43:32') AS ts1,"
            " TO_SECONDS(DATE '2009-11-29') AS ts2,"
            " TO_SECONDS('2009-11-29') AS ts3,"
            " TIMESTAMPADD(SQL_TSI_MINUTE, 1,"
            "  TIMESTAMP '2003-01-02 00:00:00') AS ta,"
            " TIMESTAMPDIFF(SQL_TSI_MONTH, DATE '2002-05-01',"
            "  DATE '2001-01-01') AS tdm,"
            " 'keep SQL_TSI_HOUR literal' AS lit"
        )
    ).collect()[0]
    assert got.ts1 == 63426721412
    assert got.ts2 == 63426672000
    assert got.ts3 == 63426672000
    assert str(got.ta) == "2003-01-02 00:01:00"
    assert got.tdm == -16
    assert got.lit == "keep SQL_TSI_HOUR literal"
    # the argument is bound exactly ONCE: TO_SECONDS(NOW()) near
    # midnight must not mix date and time from different evaluations
    t = translate_statement("SELECT TO_SECONDS(NOW()) AS v")
    assert t.lower().count("now()") + t.lower().count("current_timestamp") == 1


def test_compress_family_round_trip(engine):
    """mcs268-270: COMPRESS 4-byte LE header + zlib; UNCOMPRESS inverts
    it and returns NULL on non-COMPRESS input; UNCOMPRESSED_LENGTH reads
    the header without decompressing."""
    import zlib as _zlib

    got = engine.execute(
        "SELECT n, UNCOMPRESS(c) AS back, UNCOMPRESSED_LENGTH(c) AS ulen,"
        " LENGTH(c) AS clen FROM (SELECT COMPRESS(s) AS c,"
        " LENGTH(s) AS n FROM (SELECT REPEAT('a', 1000) AS s"
        " UNION ALL SELECT 'short' UNION ALL SELECT ''"
        " UNION ALL SELECT NULL) AS src) AS packed"
    ).collect()
    by_n = {r.n: r for r in got}
    assert by_n[1000].back == "a" * 1000 and by_n[1000].ulen == 1000
    assert by_n[1000].clen < 1000  # actually compressed
    assert by_n[5].back == "short" and by_n[5].ulen == 5
    assert by_n[0].back == "" and by_n[0].ulen == 0 and by_n[0].clen == 0
    none_row = by_n[None]
    assert none_row.back is None and none_row.ulen is None
    # valid zlib payload of NON-UTF8 bytes: this string-typed surface
    # maps it to NULL (documented limitation) instead of killing the
    # task with UnicodeDecodeError
    raw = b"\xff\xfe\x00\x80binary"
    payload = len(raw).to_bytes(4, "little") + _zlib.compress(raw)
    row = engine.execute(
        # garbage input -> NULL, not an error (MariaDB returns NULL)
        "SELECT UNCOMPRESS(X'050000006A756E6B') AS bad,"
        f" UNCOMPRESS(X'{payload.hex()}') AS nonutf8,"
        # 1-4 byte garbage: partial header -> NULL from
        # UNCOMPRESSED_LENGTH (MariaDB returns NULL, not a bogus int
        # from a truncated header)
        " UNCOMPRESSED_LENGTH(X'01') AS u1,"
        " UNCOMPRESSED_LENGTH(X'010203') AS u3,"
        " UNCOMPRESSED_LENGTH(X'01020304') AS u4"
    ).collect()[0]
    assert row.bad is None and row.nonutf8 is None
    assert row.u1 is None and row.u3 is None and row.u4 is None


def test_session_functions_routed(engine_with_table):
    eng = engine_with_table
    assert eng.execute("SELECT VERSION()").startswith("11.4.0-mcs-spark")
    assert eng.execute("SELECT USER()").endswith("@localhost")
    assert eng.execute("SELECT CURRENT_USER") == eng.execute(
        "SELECT SESSION_USER()"
    )
    assert isinstance(eng.execute("SELECT CONNECTION_ID()"), int)
    assert eng.execute("SELECT SCHEMA()") == eng.execute(
        "SELECT DATABASE()"
    )


def test_json_format_functions_sql_spellings(spark):
    """JSON_COMPACT / JSON_LOOSE SQL spellings route through the tested
    json_ext Column implementations (Catalyst-rendered); JSON_DETAILED
    and JSON_NORMALIZE are refused with documented errors, never
    mistranslated."""
    got = spark.sql(
        translate_statement(
            """SELECT JSON_COMPACT(' { "a" : 1 , "b" : [1, 2] } ') AS c,
                      JSON_LOOSE('{"a":1,"s":"x:y,z"}') AS l"""
        )
    ).collect()[0]
    assert got.c == '{"a":1,"b":[1,2]}'
    assert got.l == '{"a": 1, "s": "x:y,z"}'
    with pytest.raises(ValueError, match="JSON_DETAILED"):
        translate_statement("SELECT JSON_DETAILED('{}') AS d")
    with pytest.raises(ValueError, match="JSON_NORMALIZE"):
        translate_statement("SELECT JSON_NORMALIZE('{}') AS n")


def test_convert_tz_named_zones_dst_vectors(spark):
    """CONVERT_TZ with named IANA zones (func_convert_tz.cpp — the
    reference inherits mysqld's tz tables). Vectors bracket the US
    2024-03-10 spring-forward: 06:30 UTC renders EST (-5) the day
    before and EDT (-4) the day after; the 02:30 local gap hour on the
    transition day maps forward. Fixed offsets still work."""
    rows = spark.sql(
        translate_statement(
            """SELECT
            CONVERT_TZ(TIMESTAMP'2024-03-09 06:30:00', 'UTC',
                       'America/New_York') AS est_day,
            CONVERT_TZ(TIMESTAMP'2024-03-11 06:30:00', 'UTC',
                       'America/New_York') AS edt_day,
            CONVERT_TZ(TIMESTAMP'2024-03-10 02:30:00',
                       'America/New_York', 'UTC') AS gap_fwd,
            CONVERT_TZ(TIMESTAMP'2024-11-03 05:30:00', 'UTC',
                       'America/New_York') AS fallback_dup,
            CONVERT_TZ(TIMESTAMP'2024-01-15 12:00:00', '+00:00',
                       '+05:45') AS fixed_off,
            CONVERT_TZ(TIMESTAMP'2024-06-15 12:00:00',
                       'Australia/Sydney', 'Europe/Paris') AS syd_paris"""
        )
    ).collect()[0]
    assert str(rows.est_day) == "2024-03-09 01:30:00"  # UTC-5
    assert str(rows.edt_day) == "2024-03-11 02:30:00"  # UTC-4
    # 02:30 local does not exist on 2024-03-10; Spark's zone rules
    # resolve the gap with the pre-transition offset (-5) → 07:30 UTC
    assert str(rows.gap_fwd) == "2024-03-10 07:30:00"
    # fall-back day: 05:30 UTC is 01:30 EDT? No — 2024-11-03 06:00 UTC
    # is the 02:00 EDT→EST switch; 05:30 UTC is still EDT (-4) → 01:30
    assert str(rows.fallback_dup) == "2024-11-03 01:30:00"
    assert str(rows.fixed_off) == "2024-01-15 17:45:00"
    # June: Sydney is AEST (+10, southern winter), Paris CEST (+2)
    assert str(rows.syd_paris) == "2024-06-15 04:00:00"


def test_loose_group_by_hidden_columns(engine_with_table):
    """MariaDB's default sql_mode omits ONLY_FULL_GROUP_BY
    (MCOL-5772-hidden-order-by.test): non-grouped select columns and
    hidden ORDER BY columns get SOME value per group — repaired
    error-driven via any_value() wrapping, keeping the display name."""
    eng = engine_with_table
    # non-grouped select column
    rows = eng.execute(
        "SELECT note, SUM(val) AS s FROM t1"
        " GROUP BY id DIV 5 ORDER BY s"
    ).collect()
    assert len(rows) == 2 and rows[0].note is not None
    assert {round(r.s, 1) for r in rows} == {100.0, 350.0}
    # hidden ORDER BY column (not in select list, not grouped)
    rows2 = eng.execute(
        "SELECT SUM(val) AS s FROM t1 GROUP BY id DIV 5 ORDER BY id"
    ).collect()
    assert len(rows2) == 2
    # grouping-expression text must never be rewritten
    rows3 = eng.execute(
        "SELECT CONCAT('g', id DIV 5) AS g, COUNT(*) AS n FROM t1"
        " GROUP BY CONCAT('g', id DIV 5) ORDER BY g"
    ).collect()
    assert [(r.g, r.n) for r in rows3] == [("g0", 5), ("g1", 5)]
    # a genuinely-wrong aggregate-free query still errors
    import pytest as _pytest

    with _pytest.raises(Exception, match="MISSING_GROUP_BY|GROUP"):
        eng.execute("SELECT note, SUM(val) FROM t1").collect()


def test_json_value_and_json_query(engine_with_table):
    """JSON_VALUE (func_json_value.cpp; MCOL-5607-json-value-fix):
    scalar at path, NULL on object/array; JSON_QUERY mirrors. The
    brace-looking scalar case must classify as scalar (re-parse
    discrimination, not a leading-character heuristic)."""
    eng = engine_with_table
    q = lambda s: eng.execute(s).collect()[0][0]  # noqa: E731
    assert q("SELECT JSON_VALUE('{\"a\": {\"b\": 3}}', '$.a.b') AS v") == "3"
    assert q("SELECT JSON_VALUE('{\"a\": {\"b\": 3}}', '$.a') AS v") is None
    assert (
        q("SELECT JSON_QUERY('{\"a\": {\"b\": 3}}', '$.a') AS v")
        == '{"b":3}'
    )
    assert q("SELECT JSON_QUERY('{\"a\": 1}', '$.a') AS v") is None
    assert q("SELECT JSON_VALUE('{\"a\": \"{x}\"}', '$.a') AS v") == "{x}"
    assert q("SELECT JSON_VALUE('{\"a\": 1}', '$.zz') AS v") is None
    assert q("SELECT JSON_VALUE('{\"10001\": \"x\"}', '$.10001') AS v") == "x"
    # over a column (MCOL-5607 shape)
    r = eng.execute(
        "SELECT JSON_VALUE(note2, '$.k') AS v FROM"
        " (SELECT CONCAT('{\"k\": \"', note, '\"}') AS note2"
        "  FROM t1 WHERE note IS NOT NULL) t ORDER BY v LIMIT 1"
    ).collect()
    assert r[0].v == "n0"


def test_division_modulo_by_zero_null(engine_with_table):
    """MariaDB semantics: x / 0 and x % 0 are NULL, not an error
    (devregression mcs7005/7080/7218 divide by sometimes-zero
    aggregates) — the dialect rewrites / and % to try_divide/try_mod
    with MariaDB's left-to-right grouping preserved."""
    eng = engine_with_table
    q = lambda s: eng.execute(s).collect()[0]  # noqa: E731
    r = q("SELECT 7 / 0 AS a, 7 % 0 AS b, 7 / 2 AS c, 7 % 2 AS d")
    assert r.a is None and r.b is None and r.c == 3.5 and r.d == 1
    # sometimes-zero divisor over real rows: NULL rows, not an error
    rows = eng.execute(
        "SELECT id, val / (id % 3) AS ratio FROM t1 ORDER BY id"
    ).collect()
    by_id = {r.id: r.ratio for r in rows}
    assert by_id[3] is None and by_id[6] is None  # id%3 = 0
    assert by_id[4] == 40.0  # 40 / 1
    # left-to-right grouping: a * b / c == (a*b)/c
    assert q("SELECT 3 * 5 / 2 AS x").x == 7.5
    # aggregate / aggregate with zero count (mcs7080 shape)
    r2 = q(
        "SELECT SUM(val) / COUNT(CASE WHEN id > 99 THEN id END) AS z"
        " FROM t1"
    )
    assert r2.z is None


def test_string_alias_double_quoted(engine_with_table):
    """MariaDB default sql_mode accepts a double-quoted string in
    alias position (mcs7096: sum(..) \"1\") — rewritten to AS
    backticked; string literals in expression position untouched."""
    eng = engine_with_table
    r = eng.execute(
        'SELECT SUM(1) "T", SUM(IF(id >= 5, 1, 0)) "5+" FROM t1'
    ).collect()[0]
    assert r["T"] == 10 and r["5+"] == 5
    r2 = eng.execute(
        "SELECT CONCAT(note, 'sfx') AS c FROM t1 WHERE id = 1"
    ).collect()[0]
    assert r2.c == "n1sfx"


# --- round-7 advice regressions ---------------------------------------------

def test_window_operand_of_division():
    """A window function as the LEFT operand of / or % is one primary:
    the OVER spec plus its aggregate call must be absorbed together
    (round-6 advice: the absorption block was dead code after an early
    return, splitting the operand at the OVER clause)."""
    assert translate_statement(
        "SELECT sum(x) OVER (PARTITION BY d) / 2 FROM t"
    ) == "SELECT try_divide(sum(x) OVER (PARTITION BY d), 2) FROM t"
    assert translate_statement(
        "SELECT avg(x) OVER (PARTITION BY d ORDER BY e) % 3 FROM t"
    ) == "SELECT try_mod(avg(x) OVER (PARTITION BY d ORDER BY e), 3) FROM t"
    # ratio of two window aggregates
    assert translate_statement(
        "SELECT sum(x) OVER (PARTITION BY d) /"
        " count(*) OVER (PARTITION BY d) FROM t"
    ) == (
        "SELECT try_divide(sum(x) OVER (PARTITION BY d),"
        " count(*) OVER (PARTITION BY d)) FROM t"
    )


def test_string_literal_after_keyword_not_aliased():
    """A double-quoted string literal after LIKE/REGEXP/AND/... is an
    expression, not an alias position — it must survive untouched even
    when followed by a comma/FROM/UNION/end (round-6 advice: the
    single-char lead class matched the last letter of keywords)."""
    for q in (
        'SELECT * FROM t WHERE a LIKE "foo%"',
        'SELECT * FROM t WHERE a NOT LIKE "b_r"',
        'SELECT a FROM t WHERE b REGEXP "^x" UNION SELECT a FROM u',
        'SELECT x BETWEEN 1 AND "9" FROM t',
        'SELECT CASE WHEN a THEN "y" ELSE "n" END AS f FROM t',
    ):
        out = translate_statement(q)
        assert " AS `" not in out.replace("AS f", ""), (q, out)
    # genuine alias positions still rewritten
    assert translate_statement('SELECT a "al" FROM t') == (
        "SELECT a AS `al` FROM t"
    )
    assert translate_statement('SELECT count(*) "cnt" FROM t') == (
        "SELECT count(*) AS `cnt` FROM t"
    )


def test_truthiness_repair_targets_flagged_clause():
    """FILTER_NOT_BOOLEAN repair must wrap the clause the analyzer
    flagged — a boolean WHERE plus a numeric HAVING gets the HAVING
    wrapped, not the WHERE (round-6 advice)."""
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        _numeric_truthiness_repair,
    )

    sql = (
        "SELECT d, sum(v) AS s FROM t WHERE flag = 1"
        " GROUP BY d HAVING sum(v)"
    )
    err = (
        '[INVALID_WHERE_CONDITION] FILTER_NOT_BOOLEAN: Filter'
        ' expression "sum(v)" of type "BIGINT" is not a boolean.'
    )
    fixed = _numeric_truthiness_repair(sql, err)
    assert fixed is not None
    assert "WHERE flag = 1" in fixed  # WHERE untouched
    assert "HAVING ((sum(v)) <> 0)" in fixed
    # and the flagged-WHERE case still wraps WHERE
    sql2 = "SELECT d FROM t WHERE n GROUP BY d HAVING count(*) > 1"
    err2 = (
        'FILTER_NOT_BOOLEAN: Filter expression "n" of type "INT"'
        " is not a boolean."
    )
    fixed2 = _numeric_truthiness_repair(sql2, err2)
    assert fixed2 is not None
    assert "WHERE ((n) <> 0)" in fixed2
    assert "HAVING count(*) > 1" in fixed2


def test_hidden_order_by_repair_region_ends_after_order_by(
    engine_with_table,
):
    """The hidden-ORDER-BY any_value repair region must end at the
    LIMIT that FOLLOWS the ORDER BY clause (round-6 advice: a LIMIT
    spelled anywhere was taken as the region end)."""
    eng = engine_with_table
    # subquery carries its own LIMIT before the outer ORDER BY
    rows = eng.execute(
        "SELECT note, COUNT(*) AS c FROM"
        " (SELECT * FROM t1 ORDER BY id LIMIT 8) x"
        " GROUP BY note ORDER BY val LIMIT 5"
    ).collect()
    assert len(rows) == 5
    assert [r.note for r in rows] == ["n0", "n1", "n2", "n3", "n4"]


def test_corr_window_zero_variance_null(engine_with_table):
    """mcs6178_windowFunctions_CORR shape: Spark's native corr THROWS
    under ANSI mode on a zero-variance frame (running frame with tied
    x); the dialect rewrites CORR to the try_divide moment formula —
    NULL there, numerically equal to native corr elsewhere."""
    eng = engine_with_table
    rows = eng.execute(
        "SELECT x, y, CORR(x, y) OVER (ORDER BY y) AS c"
        " FROM VALUES (1,1),(1,2),(2,3),(2,4) AS t(x,y) ORDER BY y"
    ).collect()
    assert rows[0].c is None and rows[1].c is None
    assert abs(rows[3].c - 0.8944271909999159) < 1e-9
    # plain aggregate CORR with zero variance: NULL, not a throw
    r = eng.execute(
        "SELECT CORR(x, y) AS c FROM VALUES (1,1),(1,2) AS t(x,y)"
    ).collect()
    assert r[0].c is None
    # agrees with the exact closed form where defined
    r2 = eng.execute(
        "SELECT CORR(id, val) AS c FROM t1"
    ).collect()[0].c
    assert abs(r2 - 1.0) < 1e-12  # val = id * 10: perfectly linear


def test_get_format_literals(engine_with_table):
    """GET_FORMAT (mcs7117): the documented region format strings;
    NULL for unknown regions; TIMESTAMP aliases DATETIME."""
    eng = engine_with_table
    q = lambda s: eng.execute(s).collect()[0][0]  # noqa: E731
    assert q("SELECT GET_FORMAT(DATE, 'USA') AS f") == "%m.%d.%Y"
    assert q("SELECT GET_FORMAT(DATE, 'EUR') AS f") == "%d.%m.%Y"
    assert q("SELECT GET_FORMAT(TIME, 'JIS') AS f") == "%H:%i:%s"
    assert q("SELECT GET_FORMAT(DATETIME, 'INTERNAL') AS f") == (
        "%Y%m%d%H%i%s"
    )
    assert q("SELECT GET_FORMAT(TIMESTAMP, 'ISO') AS f") == (
        "%Y-%m-%d %H:%i:%s"
    )
    assert q("SELECT GET_FORMAT(DATE, 'nope') AS f") is None


def test_boolean_int_coercion_repairs(engine_with_table):
    """MariaDB's boolean-is-int semantics, error-driven (mcs7010/
    mcs7108/mcs7126/mcs7173 probe shapes): numeric AND/OR numeric,
    numeric * boolean, CASE branches mixing int and boolean, and
    NOT <numeric> beside a legal NOT (x BETWEEN ..) — all repair to
    explicit <> 0 / CAST AS INT forms and run."""
    eng = engine_with_table
    # both-numeric conjunction inside IF()
    rows = eng.execute(
        "SELECT id, IF(id AND (id - 2), 1, 0) AS f FROM t1"
        " WHERE id < 4 ORDER BY id"
    ).collect()
    assert [(r.id, r.f) for r in rows] == [
        (0, 0), (1, 1), (2, 0), (3, 1)]
    # numeric * boolean
    n = eng.execute(
        "SELECT COUNT(*) AS c FROM t1 WHERE id * (id > 4) = 0"
    ).collect()[0].c
    assert n == 5  # ids 0..4: zero factor
    # CASE mixing int and boolean branches
    n2 = eng.execute(
        "SELECT COUNT(*) AS c FROM t1 WHERE"
        " CASE WHEN NULL IS NULL THEN id ELSE id > 2 END = 0"
    ).collect()[0].c
    assert n2 == 1
    # NOT over a numeric beside a parenthesized BETWEEN (the round-7
    # probe found the old repair consumed the BETWEEN's paren)
    rows3 = eng.execute(
        "SELECT id FROM t1 WHERE"
        " NOT (id BETWEEN 1 AND 8) OR NOT id ORDER BY id"
    ).collect()
    assert [r.id for r in rows3] == [0, 9]


# --- round 8: index hints, inline COLLATE, unary BINARY --------------------

def test_index_hints_stripped():
    # USE INDEX after a bare table name
    assert translate_statement(
        "SELECT a FROM t USE INDEX (PRIMARY) WHERE a = 1"
    ) == "SELECT a FROM t  WHERE a = 1"
    # FORCE INDEX FOR JOIN after an alias, backticked + dotted names
    assert translate_statement(
        "SELECT a FROM t x FORCE INDEX FOR JOIN (`i1`, db.i2) JOIN u "
        "IGNORE KEY FOR ORDER BY (k) ON x.a = u.a"
    ) == "SELECT a FROM t x  JOIN u  ON x.a = u.a"
    # empty USE INDEX () is valid MariaDB ("use no indexes")
    assert translate_statement(
        "SELECT a FROM t USE INDEX () WHERE a = 1"
    ) == "SELECT a FROM t  WHERE a = 1"
    # IGNORE INDEX FOR GROUP BY
    assert translate_statement(
        "SELECT a FROM t IGNORE INDEX FOR GROUP BY (i) GROUP BY a"
    ) == "SELECT a FROM t  GROUP BY a"


def test_inline_collate_forms():
    # ORDER BY column COLLATE name
    assert translate_statement(
        "SELECT a FROM t ORDER BY a COLLATE utf8mb4_general_ci"
    ) == "SELECT a FROM t ORDER BY collate(a, 'UNICODE_CI_AI')"
    # function-call operand + quoted collation name
    assert translate_statement(
        "SELECT lower(a) COLLATE 'utf8mb4_turkish_ci' AS x FROM t"
    ) == "SELECT collate(lower(a), 'tr_CI_AI') AS x FROM t"
    # binary collation forces UTF8_BINARY (overrides declared CI)
    assert translate_statement(
        "SELECT a COLLATE utf8mb4_bin = b FROM t"
    ) == "SELECT collate(a, 'UTF8_BINARY') = b FROM t"
    # string-literal operand
    assert translate_statement(
        "SELECT 'x' COLLATE latin1_swedish_ci = a FROM t"
    ) == "SELECT collate('x', 'sv_CI_AI') = a FROM t"
    # parenthesized operand
    assert translate_statement(
        "SELECT (a || b) COLLATE utf8mb4_unicode_ci FROM t"
    ) == "SELECT collate((a || b), 'UNICODE_CI_AI') FROM t"
    with pytest.raises(ValueError, match="unknown collation"):
        translate_statement("SELECT a COLLATE made_up_ci FROM t")


def test_unary_binary_operator():
    assert translate_statement(
        "SELECT * FROM t WHERE BINARY a = 'x'"
    ) == ("SELECT * FROM t WHERE "
          "collate(CAST(a AS STRING), 'UTF8_BINARY') = 'x'")
    # function-call operand
    assert translate_statement(
        "SELECT BINARY lower(a) FROM t"
    ) == "SELECT collate(CAST(lower(a) AS STRING), 'UTF8_BINARY') FROM t"
    # literal operand; IN (...) not swallowed as a call
    assert translate_statement(
        "SELECT BINARY a IN ('x', 'y') FROM t"
    ) == ("SELECT collate(CAST(a AS STRING), 'UTF8_BINARY') "
          "IN ('x', 'y') FROM t")
    # CAST targets untouched
    assert translate_statement(
        "SELECT CAST(a AS BINARY) FROM t"
    ) == "SELECT CAST(a AS BINARY) FROM t"


def test_corr_uses_welford_moments():
    out = translate_statement("SELECT corr(a, b) AS c FROM t GROUP BY g")
    assert "covar_pop" in out and "stddev_pop" in out
    assert "SUM(" not in out  # no raw-moment formula for aggregates
    # non-suffix window frames: native Welford terms sharing the spec
    # (raw moments cancel catastrophically on large-magnitude operands)
    out2 = translate_statement(
        "SELECT corr(a, b) OVER (PARTITION BY g ORDER BY i) FROM t"
    )
    assert "try_divide" in out2 and "covar_pop" in out2
    assert "SUM(" not in out2
    # suffix frames: same Welford terms, mirrored onto the
    # reversed-order O(n) running frame
    out3 = translate_statement(
        "SELECT corr(a, b) OVER (PARTITION BY g ORDER BY i "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert "UNBOUNDED FOLLOWING" not in out3
    assert "covar_pop" in out3 and "stddev_pop" in out3
    assert "ORDER BY i DESC NULLS LAST" in out3


def test_loose_numeric_cast_semantics(spark):
    """MariaDB loose string→number cast semantics (r8; func_cast.cpp
    + server my_strtoll10/my_strtod): leading numeric prefix parses,
    non-numeric → 0, integer targets stop at '.', out-of-range clamps,
    UNSIGNED wraps negatives mod 2^64, NULL stays NULL. Numeric
    operands keep the plain Spark cast (fast ELSE branch)."""
    got = spark.sql(
        translate_statement(
            "SELECT CAST('123abc' AS SIGNED) AS a,"
            " CAST('12.9' AS SIGNED) AS b,"           # int prefix: 12
            " CAST('abc' AS SIGNED) AS c,"
            " CAST('  42  ' AS SIGNED) AS d,"
            " CAST('1e3' AS SIGNED) AS e,"            # stops at 'e'
            " CAST('99999999999999999999' AS SIGNED) AS f,"  # clamp
            " CAST(NULL AS SIGNED) AS g,"
            " CAST('-5' AS UNSIGNED) AS h,"           # u64 wrap
            " CAST('18446744073709551615' AS UNSIGNED) AS i,"
            " CAST('AFRICA' AS DOUBLE) AS j,"
            " CAST('1.5e2kg' AS DOUBLE) AS k,"
            " CAST(' -12.5 stuff' AS DOUBLE) AS l,"
            " CAST('123456' AS DECIMAL(4,1)) AS m,"   # clamp 999.9
            " CAST('abc' AS DECIMAL(5,2)) AS n,"
            " CAST(7.2 AS SIGNED) AS o,"              # numeric: plain
            " CONVERT('77cm', SIGNED) AS p"
        )
    ).collect()[0]
    assert (got.a, got.b, got.c, got.d, got.e) == (123, 12, 0, 42, 1)
    assert got.f == 9223372036854775807
    assert got.g is None
    assert str(got.h) == "18446744073709551611"
    assert str(got.i) == "18446744073709551615"
    assert (got.j, got.k, got.l) == (0.0, 150.0, -12.5)
    assert str(got.m) == "999.9"
    assert str(got.n) == "0.00"
    assert got.o == 7
    assert got.p == 77


def test_loose_cast_overflow_clamp_and_short_circuit(spark):
    """r9 ADVICE: a numeric prefix longer than 38 digits overflows the
    DECIMAL(38,0) reparse — must clamp sign-aware like my_strtoll10,
    not coalesce to 0. Literal operands short-circuit to their single
    typed branch (no typeof CASE), bounding nested-emission size."""
    nines = "9" * 39
    got = spark.sql(
        translate_statement(
            f"SELECT CAST('{nines}' AS SIGNED) AS a,"
            f" CAST('-{nines}' AS SIGNED) AS b,"
            f" CAST('{nines}' AS UNSIGNED) AS c,"
            f" CAST('-{nines}' AS UNSIGNED) AS d,"
            f" CAST('{nines}xyz' AS SIGNED) AS e"
        )
    ).collect()[0]
    assert got.a == 9223372036854775807
    assert got.b == -9223372036854775808
    assert str(got.c) == "18446744073709551615"
    assert str(got.d) == "9223372036854775808"  # i64-min parse, wrapped
    assert got.e == 9223372036854775807
    # literal short-circuit: no typeof() dispatch, and nesting three
    # loose casts stays well under codegen-hostile sizes
    one = translate_statement("SELECT CAST('12abc' AS SIGNED) FROM t")
    assert "typeof" not in one
    assert "typeof" not in translate_statement(
        "SELECT CAST(4.7 AS SIGNED) FROM t"
    )
    nested = translate_statement(
        "SELECT CAST(CAST(CAST('9.5' AS DECIMAL(4,1)) AS SIGNED)"
        " AS UNSIGNED) FROM t"
    )
    assert len(nested) < 60_000


def test_loose_cast_operand_binds_once(spark):
    """A non-trivial operand of a loose cast is bound exactly once
    via a one-element higher-order transform: a NON-DETERMINISTIC
    operand cannot draw differently per CASE arm, and 4-deep nested
    loose casts stay linear in emission size (VERDICT r9 #2)."""
    from pyspark.sql.functions import udf

    calls = spark.sparkContext.accumulator(0)

    def trace(s):
        calls.add(1)
        return s

    spark.udf.register(
        "trace_str_once", udf(trace, "string").asNondeterministic())
    t = translate_statement(
        "select cast(trace_str_once('45xyz') as signed) v"
        " from range(10)")
    rows = spark.sql(t).collect()
    assert all(r.v == 45 for r in rows)
    assert calls.value == 10  # exactly one evaluation per row
    # 4-deep unknown-type nesting: linear emission, runs clean
    spark.createDataFrame(
        [("x1",), ("2y",)], "c string"
    ).createOrReplaceTempView("bind_once_t")
    tn = translate_statement(
        "select cast(cast(cast(cast(concat(c,'9') as signed)"
        " as unsigned) as signed) as decimal(10,2)) v"
        " from bind_once_t order by v")
    assert len(tn) < 10_000
    assert [str(r.v) for r in spark.sql(tn).collect()] == \
        ["0.00", "2.00"]


def test_loose_numeric_cast_numeric_and_temporal(spark):
    """Numeric operands round half-away-from-zero and clamp (MariaDB
    Item_func_signed::val_int); UNSIGNED wraps numeric negatives;
    DATE/DATETIME operands become the MariaDB datetime NUMBER
    (yyyyMMdd / yyyyMMddHHmmss), all previously ANSI errors or
    truncation divergences."""
    got = spark.sql(
        translate_statement(
            "SELECT CAST(12.9 AS SIGNED) AS a,"      # rounds: 13
            " CAST(-12.5 AS SIGNED) AS b,"           # half away: -13
            " CAST(1e40 AS SIGNED) AS c,"            # clamp, no error
            " CAST(-1 AS UNSIGNED) AS d,"            # wrap
            " CAST(-1.5 AS UNSIGNED) AS e,"          # round then wrap
            " CAST(12345.6 AS DECIMAL(4,1)) AS f,"   # clamp 999.9
            " CAST(TRUE AS SIGNED) AS g,"
            " CAST(DATE '2024-01-05' AS SIGNED) AS h,"
            " CAST(TIMESTAMP '2000-01-01 00:00:01' AS SIGNED) AS i,"
            " CAST(DATE '2024-01-05' AS DECIMAL(10,1)) AS j"
        )
    ).collect()[0]
    assert (got.a, got.b) == (13, -13)
    assert got.c == 9223372036854775807
    assert str(got.d) == "18446744073709551615"
    assert str(got.e) == "18446744073709551614"
    assert str(got.f) == "999.9"
    assert got.g == 1
    assert got.h == 20240105
    assert got.i == 20000101000001
    assert str(got.j) == "20240105.0"


def test_suffix_frame_rewrites_fire_and_skip():
    # suffix ROWS frames mirror onto the reversed-order running frame
    got = translate_statement(
        "SELECT SUM(x) OVER (PARTITION BY g ORDER BY o "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert got == (
        "SELECT SUM(x) OVER (PARTITION BY g ORDER BY o DESC NULLS LAST "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t"
    )
    got = translate_statement(
        "SELECT COUNT(*) OVER (ORDER BY o "
        "ROWS BETWEEN 15 PRECEDING AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert got == (
        "SELECT COUNT(*) OVER (ORDER BY o DESC NULLS LAST "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 15 FOLLOWING) FROM t"
    )
    # explicit direction/NULLS flip exactly; FIRST/LAST swap names
    got = translate_statement(
        "SELECT FIRST_VALUE(x) OVER (ORDER BY o DESC NULLS FIRST "
        "ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert got == (
        "SELECT LAST_VALUE(x) OVER (ORDER BY o ASC NULLS LAST "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING) FROM t"
    )
    # non-suffix frames untouched
    q = ("SELECT SUM(x) OVER (PARTITION BY g ORDER BY o "
         "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    assert translate_statement(q) == q
    # the reversal applies only to suffix frames: running REGR native
    q2 = ("SELECT REGR_SLOPE(y, x) OVER (ORDER BY o "
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    assert translate_statement(q2) == q2
    got = translate_statement(
        "SELECT REGR_SLOPE(y, x) OVER (ORDER BY o "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert "UNBOUNDED FOLLOWING" not in got and "REGR_SLOPE" in got
    # NTH_VALUE(x, n) over a suffix frame → constant-offset reads
    # (r10): k=0 is a pure LEAD; k>0 splits on row position — LEAD/LAG
    # past the clamp point, whole-partition NTH_VALUE before it
    got = translate_statement(
        "SELECT NTH_VALUE(x, 2) OVER (ORDER BY o "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert got == "SELECT LEAD(x, 1) OVER (ORDER BY o) FROM t"
    got = translate_statement(
        "SELECT NTH_VALUE(x, 2) OVER (PARTITION BY g ORDER BY o "
        "ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING) FROM t"
    )
    assert "LAG(x, 2) OVER (PARTITION BY g ORDER BY o)" in got
    assert "ROW_NUMBER() OVER (PARTITION BY g ORDER BY o) > 3" in got
    assert ("NTH_VALUE(x, 2) OVER (PARTITION BY g ORDER BY o ROWS "
            "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
            ) in got
    # non-literal n has no constant-offset spelling — stays native
    q3 = ("SELECT NTH_VALUE(x, n) OVER (ORDER BY o "
          "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) FROM t")
    assert translate_statement(q3) == q3


def test_named_window_expansion(spark):
    """WINDOW name AS (spec) expands into its OVER references (r10) so
    the suffix-frame O(n) lowering fires on named windows too (the MTR
    window batteries define frames this way — measured 31x on a
    30k-row named suffix window). Chained definitions, inheritance
    references, and multi-clause statements pass through untouched."""
    got = translate_statement(
        "SELECT SUM(id) OVER w FROM range(5) WINDOW w AS (ORDER BY id"
        " ROWS BETWEEN 2 PRECEDING AND UNBOUNDED FOLLOWING)")
    assert got == (
        "SELECT SUM(id) OVER (ORDER BY id DESC NULLS LAST ROWS"
        " BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING)"
        " FROM range(5) ")
    # frame [max(0, i-2) .. 4] over ids 0..4 → sums {10,10,10,10,9}
    assert sorted(r[0] for r in spark.sql(got).collect()) == \
        [9, 10, 10, 10, 10]
    # multiple definitions in one clause; only the suffix one mirrors
    got2 = translate_statement(
        "SELECT SUM(id) OVER a s1, COUNT(*) OVER b s2 FROM t"
        " WINDOW a AS (ORDER BY id), b AS (ORDER BY id ROWS BETWEEN"
        " CURRENT ROW AND UNBOUNDED FOLLOWING) ORDER BY 1")
    assert "WINDOW" not in got2 and "OVER (ORDER BY id) s1" in got2
    # unsupported shapes stay on Spark's native named-window path
    q3 = ("SELECT SUM(id) OVER w2 FROM t WINDOW w1 AS (ORDER BY id),"
          " w2 AS (w1 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)")
    assert translate_statement(q3) == q3
    q4 = ("SELECT SUM(id) OVER (w ORDER BY id) FROM t"
          " WINDOW w AS (PARTITION BY g)")
    assert translate_statement(q4) == q4


def test_suffix_frame_values_match_native(spark):
    """The reversed-order running-frame mirror equals Spark's native
    (O(n^2)) UnboundedFollowing evaluation: exactly for integer
    SUM/COUNT/MIN/MAX/FIRST/LAST, and to Welford accumulation-order
    noise (<<1e-7 relative) for the stats/moment family."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i % 3, i, (i * 7) % 23, float((i * 13) % 101)) for i in range(200)]
        + [(9, 999, None, None)],  # NULL pair row
        "g int, o int, x int, y double",
    )
    df.createOrReplaceTempView("sfx")
    cases = [
        ("SUM(x)", True),
        ("COUNT(x)", True),
        ("COUNT(*)", True),
        ("MIN(x)", True),
        ("MAX(x)", True),
        ("FIRST_VALUE(x)", True),
        ("LAST_VALUE(x)", True),
        ("AVG(x)", False),
        ("STDDEV_POP(y)", False),
        ("STDDEV_SAMP(y)", False),
        ("VAR_POP(y)", False),
        ("VAR_SAMP(y)", False),
        ("COVAR_POP(y, x)", False),
        ("COVAR_SAMP(y, x)", False),
        ("REGR_SLOPE(y, x)", False),
        ("REGR_INTERCEPT(y, x)", False),
        ("REGR_R2(y, x)", False),
        ("REGR_SXX(y, x)", False),
        ("REGR_SYY(y, x)", False),
        ("REGR_SXY(y, x)", False),
        ("REGR_COUNT(y, x)", True),
        ("REGR_AVGX(y, x)", False),
        ("REGR_AVGY(y, x)", False),
        ("NTH_VALUE(x, 1)", True),
        ("NTH_VALUE(x, 3)", True),
        ("NTH_VALUE(y, 20)", True),
    ]
    for frame in (
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        "ROWS BETWEEN 15 PRECEDING AND UNBOUNDED FOLLOWING",
    ):
        for fn, exact in cases:
            sql = (
                f"SELECT o, {fn} OVER (PARTITION BY g ORDER BY o "
                f"{frame}) AS v FROM sfx ORDER BY o"
            )
            native = {r.o: r.v for r in spark.sql(sql).collect()}
            fast = {
                r.o: r.v
                for r in spark.sql(translate_statement(sql)).collect()
            }
            for k, a in native.items():
                b = fast[k]
                if a is None and b is None:
                    continue
                assert a is not None and b is not None, (fn, frame, k)
                if exact:
                    assert a == b, (fn, frame, k, a, b)
                else:
                    assert abs(a - b) <= max(1e-6, abs(a) * 1e-7), (
                        fn, frame, k, a, b,
                    )


def test_suffix_moments_large_magnitude(spark):
    """Conditioning regression (round-9 ADVICE): REGR_*/COVAR/STDDEV
    over suffix frames with |mean| >> stddev operands — epoch-second
    timestamps — must track the native Welford answer. The retired
    raw-moment form (n*Sxy - Sx^2) lost EVERY significant digit here
    (measured: slope 2.1e-7 vs native 0.0177, relative error ~1.0,
    19/100 rows flipping NULL<->value); the reversed-order running
    frame evaluates the SAME native Welford aggregate over the same
    rows, so the residual is accumulation-order noise only and
    NULLness never disagrees."""
    rows = [
        (i, 1_700_000_000 + i * 37 + (i * i) % 11,
         float(50 + (i * 13) % 101) + 0.017 * i)
        for i in range(100)
    ]
    spark.createDataFrame(rows, "o int, ts long, y double") \
        .createOrReplaceTempView("sfx_epoch")
    for fn in ("REGR_SLOPE(y, ts)", "REGR_INTERCEPT(y, ts)",
               "REGR_R2(y, ts)", "COVAR_POP(y, ts)",
               "COVAR_SAMP(y, ts)", "STDDEV_POP(ts)", "VAR_SAMP(ts)"):
        sql = (
            f"SELECT o, {fn} OVER (ORDER BY o ROWS BETWEEN CURRENT ROW"
            f" AND UNBOUNDED FOLLOWING) AS v FROM sfx_epoch ORDER BY o"
        )
        native = {r.o: r.v for r in spark.sql(sql).collect()}
        fast = {
            r.o: r.v for r in spark.sql(translate_statement(sql)).collect()
        }
        for k, a in native.items():
            b = fast[k]
            assert (a is None) == (b is None), (fn, k, a, b)
            if a is not None:
                assert abs(a - b) <= max(1e-9, abs(a) * 5e-6), (fn, k, a, b)


def test_logical_xor(spark):
    """MariaDB logical XOR (Item_func_xor): numeric truthiness with
    NULL propagation; binds between AND and OR. No Spark spelling —
    mcs7173_regression_bug5267 shapes sat unparsed before r9."""
    got = spark.sql(
        translate_statement(
            "select 1 xor 1 a, 1 xor 0 b, 0 xor 0 c, null xor 1 d,"
            " 1 xor null e, 2 xor 3 f, 'x' xor 1 g, 1 xor 0 xor 1 h"
        )
    ).collect()[0]
    assert (got.a, got.b, got.c, got.f, got.g, got.h) == (
        False, True, False, False, True, False,
    )
    assert got.d is None and got.e is None
    # precedence: AND binds tighter ((a AND b) XOR c); OR looser
    t = translate_statement("SELECT a AND b XOR c OR d FROM t")
    assert "XOR" not in t.upper().replace("XOR", "XOR")  # rewritten
    assert t.index("a AND b") < t.index("OR d")
    # inside CASE WHEN / IF argument positions (the two MTR shapes)
    for s in (
        "select n_nationkey, case when n_nationkey xor n_regionkey"
        " then 1 else 0 end cx from nation",
        "select n_nationkey, if(n_nationkey xor n_regionkey, 1, 0)"
        " fx from nation",
    ):
        out = translate_statement(s)
        assert "xor" not in out.lower()


def test_case_boolean_subject_and_mixed_branches(spark):
    """mcs7108_regression_bug3671 family: boolean CASE subjects and
    WHEN operands compare as int 0/1; CASE/IF branch lists mixing
    strings with numbers aggregate to VARCHAR (MariaDB renders the
    numeric side as strings) instead of Spark's ANSI string→number
    runtime cast."""
    r = spark.sql(
        translate_statement(
            "select case 1=1 when 0 then 'eq0' else 'ne0' end a,"
            " case 5 when 5 = 5 then 'boolmatch' else 'other' end b,"
            " case when 1=1 then 'txt' else 7 end c,"
            " if(1 > 2, 'yes', 42) d,"
            " case 2 when 2=2 then 'm' when 2 then 'n' end e"
        )
    ).collect()[0]
    assert r.a == "ne0"          # subject (1=1)→1, WHEN 0 no match
    assert r.b == "other"        # WHEN (5=5)→1 vs subject 5
    assert r.c == "txt" and r.d == "42"
    assert r.e == "n"            # WHEN (2=2)→1 ≠ 2; WHEN 2 matches
    # searched-CASE conditions stay boolean — passthrough untouched
    q = "SELECT CASE WHEN a > 1 THEN 'x' ELSE 'y' END FROM t"
    assert translate_statement(q) == q


def test_loose_string_args_schema_aware(spark):
    """round(r_name, 2) (mcs7005) and a bare string column as a
    boolean operand (mcs7031): with the catalog's string columns
    provided, both take MariaDB's my_strtod prefix read. Without the
    schema hint the text passes through untouched."""
    spark.createDataFrame(
        [("AFRICA", 1), ("12abc", 2), (None, 3)], "sname string, k int"
    ).createOrReplaceTempView("loose_t")
    cols = frozenset({"sname"})
    got = spark.sql(
        translate_statement(
            "select k, round(sname, 2) r from loose_t order by k", cols
        )
    ).collect()
    assert [(g.k, g.r) for g in got] == [(1, 0.0), (2, 12.0), (3, None)]
    got2 = spark.sql(
        translate_statement(
            "select k from loose_t where (sname and k > 0)"
            " order by k", cols
        )
    ).collect()
    assert [g.k for g in got2] == [2]  # '12abc'→12 truthy; AFRICA→0
    # schema-less call: untouched (ANSI behavior preserved)
    q = "select round(sname, 2) from loose_t"
    assert translate_statement(q) == q
    # bare boolean in parens at the very END of the statement: the
    # empty lookahead past the close-paren must NOT read as an
    # operator (`"" in "=<>..."` is True — r9 regression, ADVICE r9).
    got3 = spark.sql(
        translate_statement(
            "select k from loose_t where k > 0 and (sname)", cols
        )
    ).collect()
    assert [g.k for g in got3] == [2]
    # and a close-paren followed by a real comparison stays suppressed
    q4 = "select k from loose_t where (sname) = 'AFRICA'"
    assert translate_statement(q4, cols) == q4


def test_truncate_large_magnitude_no_overflow(spark):
    """TRUNCATE(x, 12) of an e12-scale value (mcs6203 REGR_SXX
    outputs) overflowed the old floor(x*10^12) decimal product; the
    remainder-strip form cannot."""
    r = spark.sql(
        translate_statement(
            "SELECT TRUNCATE(2812499987500.015625, 12) a,"
            " TRUNCATE(0.29, 2) b, TRUNCATE(-123.456, 2) c,"
            " TRUNCATE(123.45, -1) d, TRUNCATE(1e15, 3) e"
        )
    ).collect()[0]
    assert abs(r.a - 2812499987500.0156) < 1e-3
    assert (r.b, r.c, r.d, r.e) == (0.29, -123.45, 120.0, 1e15)


def test_population_stat_aliases():
    """MariaDB's bare STDDEV()/STD()/VARIANCE() are POPULATION
    variants (wf_stats.cpp divides by n); Spark's STDDEV/VARIANCE
    alias the sample forms, so the front end rewrites to *_POP.
    Explicit *_SAMP/*_POP spellings pass through untouched."""
    out = translate_statement(
        "SELECT STDDEV(a), STD(a), VARIANCE(a), STDDEV_SAMP(a),"
        " VAR_SAMP(a), STDDEV_POP(a) FROM t"
    )
    assert out == (
        "SELECT STDDEV_POP(a), STDDEV_POP(a), VAR_POP(a),"
        " STDDEV_SAMP(a), VAR_SAMP(a), STDDEV_POP(a) FROM t"
    )


def test_row_constructor_comparisons(spark):
    """MariaDB row comparisons lower to element-wise conjunctions
    with per-element coercion and 3-valued NOT (Item_row +
    Arg_comparator::compare_row; mcs7246_regression_bug3038 —
    Spark's struct comparison would reject bigint-vs-int-literal)."""
    out = translate_statement(
        "select 1 where (a, b) = (1, 'x') and (c, d) <> (2, 3)")
    assert "(a) = (1) AND (b) = ('x')" in out
    assert "NOT ((c) = (2) AND (d) = (3))" in out
    # IN-lists and scalar subqueries stay untouched
    q = "select 1 from t where a in (1, 2, 3)"
    assert translate_statement(q) == q
    r = spark.sql(translate_statement(
        "select (1, 'a') = (1, 'a') x, (1, 'a') <> (1, 'b') y,"
        " (1, NULL) = (1, 'a') z"
    )).collect()[0]
    assert (r.x, r.y, r.z) == (True, True, None)


def test_inverted_rows_frames(spark):
    """ROWS frames with literal start > end are EMPTY frames in
    MariaDB (mcs7178_regression_bug5345: every row NULL, COUNT 0);
    Spark rejects them at analysis, so the aggregate lowers to its
    empty-frame value. Valid frames pass through untouched."""
    rows = spark.sql(translate_statement(
        "select avg(id) over (order by id rows between 20 following"
        " and 1 following) a,"
        " count(*) over (order by id rows between 1 preceding and"
        " 20 preceding) c,"
        " sum(id) over (order by id rows between 2 preceding and"
        " 1 preceding) ok"
        " from range(4)"
    )).collect()
    assert all(r.a is None and r.c == 0 for r in rows)
    assert [r.ok for r in rows] == [None, 0, 1, 3]  # valid frame kept


def test_inverted_frame_sum_type_and_alias(spark):
    """Empty-frame SUM widens like MariaDB's SUM (int arg → numeric,
    not an INT-typed NULL), and an UNALIASED select-list rewrite keeps
    the original expression text as the output column name; MIN stays
    argument-typed and explicit aliases are untouched (ADVICE r9)."""
    df = spark.sql(translate_statement(
        "select sum(id) over (rows between 20 following and"
        " 1 following), min(id) over (rows between 2 preceding and"
        " 20 preceding) m from range(2)"
    ))
    f_sum, f_min = df.schema.fields
    assert f_sum.dataType.typeName() == "double"
    assert f_sum.name == ("sum(id) over (rows between 20 following"
                          " and 1 following)")
    assert f_min.dataType.typeName() == "long" and f_min.name == "m"
    assert all(r[0] is None and r.m is None for r in df.collect())


def test_string_fn_numeric_coercion(spark):
    """MariaDB string functions read numeric args as their string
    form (mcs7092 md5(d_datekey)); Spark's md5/sha need binary and
    reverse needs string/array."""
    r = spark.sql(translate_statement(
        "select md5(19980404) m, reverse(12345) r, sha1(7) s"
    )).collect()[0]
    import hashlib

    assert r.m == hashlib.md5(b"19980404").hexdigest()
    assert r.r == "54321"
    assert r.s == hashlib.sha1(b"7").hexdigest()


def test_format_stringish_arg(spark):
    """FORMAT's value arg takes the loose numeric read when it is a
    string by construction (mcs7088 format(cast(sum(..) as char), 0))."""
    r = spark.sql(translate_statement(
        "select format(cast(1234567 as char), 0) a,"
        " format('12345.678', 2) b, format(9876.5, 1) c"
    )).collect()[0]
    assert (r.a, r.b, r.c) == ("1,234,567", "12,345.68", "9,876.5")


def test_group_concat_distinct_ordered_numeric_executes(spark):
    # listagg casts its input to string, so DISTINCT x with ORDER BY x
    # raised MISMATCH_WITH_DISTINCT_INPUT for numeric x; the collect →
    # sort → array_distinct pipeline dedups the typed values instead
    df = spark.createDataFrame(
        [("g", 3), ("g", 10), ("g", 3), ("g", None), ("g", 2),
         ("n", None), ("n", None)],
        "g string, x int",
    )
    df.createOrReplaceTempView("_gc_dist_num")
    rows = spark.sql(
        translate_statement(
            "SELECT g,"
            " GROUP_CONCAT(DISTINCT x ORDER BY x) AS up,"
            " GROUP_CONCAT(DISTINCT x ORDER BY x DESC SEPARATOR '|')"
            "   AS down"
            " FROM _gc_dist_num GROUP BY g ORDER BY g"
        )
    ).collect()
    assert (rows[0].up, rows[0].down) == ("2,3,10", "10|3|2")
    # a group whose values are all NULL stays NULL, as with listagg
    assert (rows[1].up, rows[1].down) == (None, None)
