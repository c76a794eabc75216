"""Property-based tests (hypothesis) for the dialect layer.

The reference ships no randomized tests (SURVEY §5) — this is a
deliberate upgrade: each property batches all generated cases into one
DataFrame so a property run costs one Spark job, not one per example.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mariadb_columnstore_engine_spark.functions import dialect

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_int64 = st.integers(min_value=-(2**62), max_value=2**62)


@given(
    st.lists(
        st.tuples(_int64, _int64.filter(lambda x: x != 0)),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_div_truncates_toward_zero_exactly(spark, sf_dir, cases):
    from mariadb_columnstore_engine_spark.engine import Engine

    rows = Engine(spark, sf_dir).execute(
        "SELECT a, b, a DIV b AS q FROM ("
        + " UNION ALL ".join(
            f"SELECT CAST({a} AS BIGINT) AS a, CAST({b} AS BIGINT) AS b"
            for a, b in cases
        )
        + ") AS t"
    ).collect()
    for r in rows:
        expected = abs(r.a) // abs(r.b)
        if (r.a < 0) != (r.b < 0):
            expected = -expected
        assert r.q == expected, (r.a, r.b, r.q, expected)


@given(
    st.lists(
        st.tuples(*[st.integers(0, 255)] * 4), min_size=1, max_size=50
    )
)
@settings(**_SETTINGS)
def test_inet_aton_ntoa_roundtrip_property(spark, quads):
    ips = [(".".join(map(str, q)),) for q in quads]
    df = spark.createDataFrame(ips, "ip string")
    rows = df.select(
        "ip",
        dialect.inet_ntoa(dialect.inet_aton(F.col("ip"))).alias("rt"),
        dialect.inet_aton(F.col("ip")).alias("n"),
    ).collect()
    for r in rows:
        assert r.rt == r.ip
        a, b, c, d = map(int, r.ip.split("."))
        assert r.n == (a << 24) + (b << 16) + (c << 8) + d


@given(
    st.lists(
        st.integers(min_value=-(86400 * 10), max_value=86400 * 10),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_sec_to_time_roundtrip_property(spark, secs):
    df = spark.createDataFrame([(s,) for s in secs], "s long")
    rows = df.select(
        "s",
        dialect.time_to_sec(dialect.sec_to_time(F.col("s"))).alias("back"),
    ).collect()
    for r in rows:
        assert r.back == r.s


@given(
    st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_group_concat_default_is_sorted_join(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    out = df.agg(dialect.group_concat("v", "|").alias("g")).collect()[0].g
    assert out == "|".join(sorted(values))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1900, max_value=2100),
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=-600, max_value=600),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_period_add_diff_roundtrip(spark, cases):
    """PERIOD_DIFF(PERIOD_ADD(p, n), p) == n, and the added period is
    always a valid YYYYMM (month in 1..12)."""
    df = spark.createDataFrame(
        [(y * 100 + m, n) for y, m, n in cases], "p long, n long"
    )
    rows = df.select(
        "n",
        dialect.period_add(F.col("p"), F.col("n")).alias("added"),
        dialect.period_diff(
            dialect.period_add(F.col("p"), F.col("n")), F.col("p")
        ).alias("diff"),
    ).collect()
    for r in rows:
        assert r.diff == r.n
        assert 1 <= r.added % 100 <= 12


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcxyz", max_size=6),
            st.text(alphabet="abcxyz", max_size=6),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_strcmp_rewrite_matches_python(spark, pairs):
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        translate_statement,
    )

    df = spark.createDataFrame(pairs, "a string, b string")
    df.createOrReplaceTempView("_strcmp_prop")
    rows = spark.sql(
        translate_statement(
            "SELECT a, b, STRCMP(a, b) AS c FROM _strcmp_prop"
        )
    ).collect()
    for r in rows:
        expected = (r.a > r.b) - (r.a < r.b)
        assert r.c == expected, (r.a, r.b, r.c, expected)


@given(
    st.lists(
        st.tuples(
            st.integers(1, 12).map(lambda m: 199000 + m),
            st.integers(-60, 60),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_period_add_diff_inverse_property(spark, cases):
    """PERIOD_DIFF(PERIOD_ADD(p, n), p) == n for 4-digit-year periods
    (the month-arithmetic identity func_period_diff pins)."""
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        translate_statement,
    )

    df = spark.createDataFrame(cases, "p long, n long")
    df.createOrReplaceTempView("_period_prop")
    rows = spark.sql(
        translate_statement(
            "SELECT p, n, PERIOD_DIFF(PERIOD_ADD(p, n), p) AS d "
            "FROM _period_prop"
        )
    ).collect()
    for r in rows:
        assert r.d == r.n, (r.p, r.n, r.d)


@given(
    st.lists(
        st.integers(0, 2).map(lambda i: ["aa", "bb", "cc"][i]),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_field_rewrite_index_property(spark, vals):
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        translate_statement,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x string")
    df.createOrReplaceTempView("_field_prop")
    rows = spark.sql(
        translate_statement(
            "SELECT x, FIELD(x, 'aa', 'bb', 'cc') AS i, "
            "FIELD(x, 'zz') AS miss FROM _field_prop"
        )
    ).collect()
    for r in rows:
        assert r.i == ["aa", "bb", "cc"].index(r.x) + 1
        assert r.miss == 0
