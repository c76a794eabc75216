"""Known-vector unit tests for scalar functions with no DuckDB oracle
twin (crc32, multi-radix conv, numeric truncate, cot, bin, format_number,
soundex). Vectors are public standards (CRC-32/ISO-HDLC, soundex rules)
or hand-computed.

Reference analogue: funcexp entries func_crc32.cpp, func_conv.cpp,
func_truncate.cpp, func_math.cpp (cot), func_format.cpp, func_soundex.cpp.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_crc32_known_vectors(spark):
    assert _one(spark, F.crc32(F.lit("hello").cast("binary"))) == 907060870
    assert (
        _one(
            spark,
            F.crc32(
                F.lit(
                    "The quick brown fox jumps over the lazy dog"
                ).cast("binary")
            ),
        )
        == 0x414FA339
    )
    assert _one(spark, F.crc32(F.lit("").cast("binary"))) == 0


def test_conv_radix_matrix(spark):
    cases = [
        (("ff", 16, 10), "255"),
        (("101", 2, 10), "5"),
        (("255", 10, 2), "11111111"),
        (("zz", 36, 10), "1295"),
        (("255", 10, 8), "377"),
    ]
    for (s, f_, t_), expected in cases:
        assert _one(spark, F.conv(F.lit(s), f_, t_)) == expected


def test_truncate_number_toward_zero(spark, sf_dir):
    from mariadb_columnstore_engine_spark.engine import Engine

    cases = [
        ((3.14159, 2), 3.14),
        ((-3.14159, 2), -3.14),  # toward zero, NOT floor
        ((1999.0, -2), 1900.0),
        ((-1999.0, -2), -1900.0),
        ((2.999, 0), 2.0),
        # exactly-representable decimals the double path got wrong
        # (0.29*100 = 28.999999999999996 floors to 28 → 0.28)
        ((0.29, 2), 0.29),
        ((-0.29, 2), -0.29),
        ((12345.6789, 3), 12345.678),
        ((0.07, 2), 0.07),
    ]
    row = Engine(spark, sf_dir).execute("SELECT " + ", ".join(
        f"TRUNCATE(CAST({x!r} AS DOUBLE), {d}) AS c{i}"
        for i, ((x, d), _) in enumerate(cases)
    )).collect()[0]
    for ((x, d), expected), got in zip(cases, row):
        assert abs(got - expected) < 1e-9, (x, d, got)


def test_cot_and_bin(spark):
    got = _one(spark, F.cot(F.lit(1.0)))
    assert abs(got - 0.6420926159343306) < 1e-12
    assert _one(spark, F.bin(F.lit(5))) == "101"


def test_format_number_grouping(spark):
    assert (
        _one(spark, F.format_number(F.lit(1234567.891), 2)) == "1,234,567.89"
    )


def test_soundex(spark):
    assert _one(spark, F.soundex(F.lit("Robert"))) == "R163"
    assert _one(spark, F.soundex(F.lit("Rupert"))) == "R163"
    assert _one(spark, F.soundex(F.lit("Tymczak"))) == "T522"


def test_period_two_digit_year_century_rule(spark):
    """MariaDB YYMM periods: year <70 → 2000s, 70-99 → 1900s
    (convert_period_to_month), and PERIOD_ADD always renders YYYYMM."""
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.functions import dialect

    assert _one(spark, dialect.period_add(F.lit(9801), F.lit(1))) == 199802
    assert _one(spark, dialect.period_add(F.lit(6912), F.lit(1))) == 207001
    assert _one(spark, dialect.period_diff(F.lit(9801), F.lit(199801))) == 0
    assert _one(
        spark, dialect.period_diff(F.lit(200301), F.lit(212))
    ) == 1  # 212 == Dec 2002 (yy=2 < 70 → 2000s); Dec'02→Jan'03
    assert _one(spark, dialect.period_add(F.lit(200112), F.lit(1))) == 200201
