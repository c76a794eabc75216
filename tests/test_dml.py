"""Copy-on-write UPDATE/DELETE tests (DMLProc analogue)."""

from __future__ import annotations

import pyspark.sql.functions as F

from mariadb_columnstore_engine_spark.sources import dml


def _seed(spark, tmp_path) -> str:
    path = str(tmp_path / "dml_tbl")
    spark.range(100).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 2.0).alias("val"),
    ).write.parquet(path)
    return path


def test_delete_where(spark, tmp_path):
    path = _seed(spark, tmp_path)
    n = dml.delete_where(spark, path, F.col("id") >= 90)
    assert n == 90
    df = spark.read.parquet(path)
    assert df.count() == 90
    assert df.agg(F.max("id")).collect()[0][0] == 89


def test_update_where(spark, tmp_path):
    path = _seed(spark, tmp_path)
    dml.update_where(
        spark,
        path,
        F.col("grp") == 2,
        {"val": F.col("val") * 10, "grp": F.lit(99)},
    )
    df = spark.read.parquet(path)
    assert df.count() == 100  # update never changes cardinality
    updated = df.where(F.col("grp") == 99)
    assert updated.count() == 25
    # id=2 had val 4.0 -> 40.0; untouched id=1 keeps 2.0
    vals = {r.id: r.val for r in df.where(F.col("id").isin(1, 2)).collect()}
    assert vals[2] == 40.0 and vals[1] == 2.0


def test_update_with_partition_filter_only_rewrites_scope(spark, tmp_path):
    path = _seed(spark, tmp_path)
    dml.update_where(
        spark,
        path,
        (F.col("grp") == 1) & (F.col("id") < 10),
        {"val": F.lit(-1.0)},
        partition_filter=F.col("grp") == 1,
    )
    df = spark.read.parquet(path)
    assert df.count() == 100
    assert df.where(F.col("val") == -1.0).count() == 3  # ids 1,5,9


def _seed_with_nulls(spark, tmp_path) -> str:
    """Rows 0-9; col 'maybe' is NULL on even ids."""
    path = str(tmp_path / "dml_nulls")
    spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 1, F.col("id")).alias("maybe"),
    ).write.parquet(path)
    return path


def test_rewrite_keeps_hive_partition_directories(spark, tmp_path):
    """A rewrite writes back into the table's k=v directories; one that
    leaves no row still leaves a file holding the schema."""
    import os

    path = str(tmp_path / "parted")
    spark.range(20).select(
        F.col("id"), (F.col("id") % 4).alias("shard")
    ).write.partitionBy("shard").parquet(path)
    dml.update_where(spark, path, F.col("id") == 1, {"shard": F.lit(9)})
    assert sorted(d for d in os.listdir(path) if "=" in d) == [
        "shard=0", "shard=1", "shard=2", "shard=3", "shard=9",
    ]
    assert spark.read.parquet(path).where("shard = 9").count() == 1
    assert dml.delete_where(spark, path, F.lit(True)) == 0
    df = spark.read.parquet(path)
    assert df.count() == 0 and set(df.columns) == {"id", "shard"}
    assert os.listdir(tmp_path) == ["parted"]


def test_delete_null_predicate_rows_are_kept(spark, tmp_path):
    # SQL DELETE removes predicate=TRUE rows only; `maybe = 3` is NULL
    # (not TRUE) for the five NULL rows, so they must survive.
    path = _seed_with_nulls(spark, tmp_path)
    n = dml.delete_where(spark, path, F.col("maybe") == 3)
    assert n == 9  # only id=3 deleted; NULL-predicate rows kept
    ids = {r.id for r in spark.read.parquet(path).collect()}
    assert ids == set(range(10)) - {3}


def test_partition_filter_null_rows_not_lost(spark, tmp_path):
    # A NULL-valued partition_filter column must not drop rows from both
    # the scoped and untouched branches of the copy-on-write split.
    path = _seed_with_nulls(spark, tmp_path)
    dml.update_where(
        spark,
        path,
        F.col("maybe") == 5,
        {"id": F.lit(500)},
        partition_filter=F.col("maybe") > 2,
    )
    df = spark.read.parquet(path)
    assert df.count() == 10  # nothing silently lost
    assert df.where(F.col("id") == 500).count() == 1
    assert df.where(F.col("id") == 5).count() == 0


def test_replace_into_deletes_then_inserts(spark, tmp_path):
    from mariadb_columnstore_engine_spark.sources.dml import replace_into

    path = str(tmp_path / "tbl_replace")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id bigint, name string, v int",
    ).write.parquet(path)
    new = spark.createDataFrame(
        [(2, "B2", 99), (4, "d", 40)], "id bigint, name string, v int"
    )
    n = replace_into(spark, path, new, ["id"])
    assert n == 4
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("B2", 99), 3: ("c", 30), 4: ("d", 40)}


def test_upsert_preserves_untouched_columns(spark, tmp_path):
    from mariadb_columnstore_engine_spark.sources.dml import upsert_into

    path = str(tmp_path / "tbl_upsert")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id bigint, name string, v int"
    ).write.parquet(path)
    new = spark.createDataFrame(
        [(2, "ignored", 99), (5, "e", 50)], "id bigint, name string, v int"
    )
    n = upsert_into(spark, path, new, ["id"], update_cols=["v"])
    assert n == 3
    got = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    # matched row: v updated, name SURVIVES (vs REPLACE which nukes it)
    assert got == {1: ("a", 10), 2: ("b", 99), 5: ("e", 50)}


def test_upsert_rejects_duplicate_key_input(spark, tmp_path):
    import pytest

    from mariadb_columnstore_engine_spark.sources.dml import upsert_into

    path = str(tmp_path / "tbl_upsert_dup")
    spark.createDataFrame([(1, 1)], "id bigint, v int").write.parquet(path)
    dup = spark.createDataFrame(
        [(7, 1), (7, 2)], "id bigint, v int"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_into(spark, path, dup, ["id"])


# --- MariaDB row-path ORDER BY ... LIMIT DML (round-7) -----------------------
# Reference: dbcon/dmlpackage/dml.y routes UPDATE/DELETE ORDER BY/LIMIT
# through mysqld's row-at-a-time path. Deterministic only over a total
# order: accepted iff ORDER BY covers a declared unique key, rewritten
# to WHERE key IN (SELECT key ... ORDER BY ... LIMIT n); refused
# otherwise.


def _engine_with_keys(spark, tmp_path, sf_dir):
    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "ol_tbl")
    spark.range(20).select(
        F.col("id"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") * 2.0).alias("val"),
    ).write.parquet(path)
    eng.attach_table("ol_tbl", path, keys=["id"])
    return eng


def test_delete_order_by_unique_key_limit(spark, tmp_path, sf_dir):
    """DELETE ... ORDER BY <unique key> LIMIT n removes exactly the
    first n rows in that order — DuckDB-checked survivors."""
    import duckdb

    eng = _engine_with_keys(spark, tmp_path, sf_dir)
    eng.execute("DELETE FROM ol_tbl WHERE grp = 0 ORDER BY id DESC LIMIT 3")
    got = sorted(r.id for r in spark.table("ol_tbl").collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT i AS id, i % 3 AS grp, i * 2.0 AS val"
        " FROM range(20) r(i)"
    )
    con.execute(
        "DELETE FROM t WHERE id IN (SELECT id FROM t WHERE grp = 0"
        " ORDER BY id DESC LIMIT 3)"
    )
    want = [r[0] for r in con.execute(
        "SELECT id FROM t ORDER BY id").fetchall()]
    assert got == want


def test_update_order_by_unique_key_limit(spark, tmp_path, sf_dir):
    import duckdb

    eng = _engine_with_keys(spark, tmp_path, sf_dir)
    eng.execute(
        "UPDATE ol_tbl SET val = val + 100 WHERE grp <> 1"
        " ORDER BY val DESC, id LIMIT 4"
    )
    got = {r.id: r.val for r in spark.table("ol_tbl").collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT i AS id, i % 3 AS grp, i * 2.0 AS val"
        " FROM range(20) r(i)"
    )
    con.execute(
        "UPDATE t SET val = val + 100 WHERE id IN (SELECT id FROM t"
        " WHERE grp <> 1 ORDER BY val DESC, id LIMIT 4)"
    )
    want = {r[0]: r[1] for r in con.execute(
        "SELECT id, val FROM t").fetchall()}
    assert got == want


def test_ordered_limit_dml_refusals(spark, tmp_path, sf_dir):
    import pytest as _pytest

    eng = _engine_with_keys(spark, tmp_path, sf_dir)
    # ORDER BY over a non-unique column: refused with the reason
    with _pytest.raises(ValueError, match="unique key"):
        eng.execute("DELETE FROM ol_tbl ORDER BY grp LIMIT 2")
    with _pytest.raises(ValueError, match="unique key"):
        eng.execute("UPDATE ol_tbl SET val = 0 ORDER BY val LIMIT 2")
    # LIMIT without ORDER BY: arbitrary rows, refused
    with _pytest.raises(ValueError, match="no ORDER BY"):
        eng.execute("DELETE FROM ol_tbl LIMIT 2")
    # ORDER BY without LIMIT cannot change the affected set: accepted
    eng.execute("UPDATE ol_tbl SET val = -5 WHERE id = 7 ORDER BY grp")
    assert spark.table("ol_tbl").where("id = 7").first().val == -5.0
    # table attached without declared keys: refused
    from mariadb_columnstore_engine_spark.engine import Engine

    path2 = str(tmp_path / "nokeys")
    spark.range(5).write.parquet(path2)
    eng.attach_table("nokeys", path2)
    with _pytest.raises(ValueError, match="unique key"):
        eng.execute("DELETE FROM nokeys ORDER BY id LIMIT 1")
