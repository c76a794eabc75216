"""Short-document edge cases for the shingle-based dedup family.

Spark's sequence(1, 0) yields DESCENDING [1, 0] rather than an empty
array, so an ungated trigram build crashes with
INVALID_ARRAY_INDEX_IN_ELEMENT_AT on any document with < 3 tokens; the
DuckDB oracle's range(1, len-1) is empty for the same input. These tests
pin the gated build: short docs yield empty shingle sets in BOTH engines
and the dedup plans survive their presence.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from mariadb_columnstore_engine_spark.plans.text_plans import (
    _shingled_docs,
    _tokens,
)


def _shingles(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    return [
        r.sh for r in _shingled_docs(df, "doc_id").orderBy("doc_id").collect()
    ]


def test_shingles_short_docs_empty_not_crash(spark):
    got = _shingles(spark, [
        "", "one", "one two", "one two three", "one two three four",
        "a a a a a", "x  y", "a b c a b c",
    ])
    assert got[0] == []            # empty text
    assert got[1] == []            # 1 token
    assert got[2] == []            # 2 tokens
    assert got[3] == ["one two three"]
    assert got[4] == ["one two three", "two three four"]
    assert got[5] == ["a a a"]     # distinct
    assert got[6] == ["x  y"]      # the empty token between spaces
    assert got[7] == ["a b c", "b c a", "c a b"]


def _column_api_shingles(tokens):
    """The same gated trigram build spelled with the Column API: an
    independent reference for the SQL spelling the plans use."""
    tri = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(tokens, i),
            F.element_at(tokens, i + 1),
            F.element_at(tokens, i + 2),
        ),
    )
    return F.when(F.size(tokens) >= 3, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )


def test_shingled_docs_sql_spelling_equals_column_api(spark):
    """_SHINGLE_EXPR (the one-round-trip SQL spelling the plans use)
    must stay the same computation as the Column-API trigram build —
    same short-doc gating, same trigram strings, same distinct order."""
    df = spark.createDataFrame(
        list(enumerate(
            ["", "one", "one two", "one two three",
             "one two three four", "a a a a a", "x  y", "a b c a b c"])),
        "doc_id long, text string",
    )
    via_sql = [
        r.sh for r in _shingled_docs(df, "doc_id").orderBy("doc_id").collect()
    ]
    via_api = [
        r.sh
        for r in df.select(
            "doc_id", _column_api_shingles(_tokens(F.col("text"))).alias("sh")
        ).orderBy("doc_id").collect()
    ]
    assert via_sql == via_api


def test_shingles_match_duckdb_on_short_docs(spark, duck):
    rows = duck.execute(
        "SELECT list_distinct(list_transform(range(1, len(w) - 1), "
        "  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh "
        "FROM (SELECT string_split(t, ' ') AS w FROM (VALUES ('one'), "
        "  ('one two'), ('one two three')) v(t))"
    ).fetchall()
    duck_sh = [r[0] for r in rows]
    assert _shingles(spark, ["one", "one two", "one two three"]) == duck_sh


def test_mixture_upsample_explode_matches_audit(spark, sf_dir):
    """explode(array_repeat(...)) materialization emits exactly the
    n_emitted count the audit aggregation reports."""
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.plans.pipeline_plans import (
        mixture_upsample,
        _MIX_SALT,
        _UP_RATES,
        _bucket,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = _bucket(F.col("doc_id").cast("string"), _MIX_SALT, 100)
    rate = F.lit(0)
    for k, v in sorted(_UP_RATES.items()):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    n_copies = (rate / 100).cast("long") + (bucket < rate % 100).cast("long")
    exploded = (
        docs.select("lang", n_copies.alias("n"))
        .select("lang", F.explode(F.array_repeat(F.lit(1), F.col("n").cast("int"))).alias("_"))
        .groupBy("lang")
        .count()
    )
    got = {r.lang: r["count"] for r in exploded.collect()}
    audit = {
        r.lang: r.n_emitted
        for r in mixture_upsample(spark, sf_dir).collect()
    }
    for lang, n in audit.items():
        assert got.get(lang, 0) == n
