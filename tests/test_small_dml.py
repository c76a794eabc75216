"""Fixed cost of a small DML statement.

- An ``INSERT … VALUES`` into a flat table takes the row path
  (``ingest.append_rows``): its rows are collected from the
  LocalRelation without a Spark job and written as one pyarrow file.
  Every type reads back as the Spark-written file of the same rows does.
- A statement builds its table's relation once (``manifest.evolved``):
  one ``manifest.read`` per INSERT, UPDATE and DELETE.
- A DML statement refreshes only the cached relations over the table it
  wrote, and a rewrite leaves no 0-row files.
"""

from __future__ import annotations

import os

import pytest

from mariadb_columnstore_engine_spark.sources import ingest, manifest
from mariadb_columnstore_engine_spark.sources.ingest import (
    read_table_evolved,
)

#: one column per type the row path maps, NULLs in the second row
_TYPES = (
    "i INT, b BIGINT, d DECIMAL(12,2), f DOUBLE, dt DATE, ts TIMESTAMP, "
    "tn TIMESTAMP_NTZ, s STRING"
)
_VALUES = (
    "(1, 10000000000, 12.34, 1.5, '2020-02-29', "
    "'2021-03-04 05:06:07.123456', '1999-12-31 23:59:59.999999', 'héllo'), "
    "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL), "
    "(-5, -1, -0.01, -2.5e10, '0001-01-01', '1900-01-01 00:00:00', "
    "'1970-01-01 00:00:00', '')"
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE sd (id BIGINT, amount INT, tag VARCHAR(10))")
    eng.execute(
        "INSERT INTO sd (id, amount, tag) VALUES (1, 10, 'a'), (2, 20, 'b')"
    )
    return eng


def _typed_table(spark, eng, tmp_path, name):
    path = str(tmp_path / name)
    spark.createDataFrame([], _TYPES).coalesce(1).write.parquet(path)
    eng.attach_table(name, path)
    return path


def test_row_path_reads_back_like_spark_path(spark, eng, tmp_path,
                                             monkeypatch, spark_jobs):
    rows_path = _typed_table(spark, eng, tmp_path, "by_rows")
    spark_path = _typed_table(spark, eng, tmp_path, "by_spark")
    n, jobs = spark_jobs(
        lambda: eng.execute(f"INSERT INTO by_rows VALUES {_VALUES}")
    )
    assert (n, jobs) == (3, 0)
    with monkeypatch.context() as m:
        m.setattr(ingest, "append_rows", lambda *a: False)
        n, jobs = spark_jobs(
            lambda: eng.execute(f"INSERT INTO by_spark VALUES {_VALUES}"),
        )
    assert (n, jobs) == (3, 1)
    want = _rows(read_table_evolved(spark, spark_path))
    assert len(want) == 3
    # warm: the footer's Spark schema recorded the file, no schema read
    warm, jobs = spark_jobs(lambda: read_table_evolved(spark, rows_path))
    assert jobs == 0
    assert warm.schema == read_table_evolved(spark, spark_path).schema
    assert _rows(warm) == want
    manifest.forget(rows_path)
    assert _rows(read_table_evolved(spark, rows_path)) == want
    # a plain read infers the schema from one footer, as perfbench's
    # space_amp copy does
    plain = spark.read.parquet(rows_path)
    assert plain.schema == spark.read.parquet(spark_path).schema
    assert _rows(plain) == _rows(spark.read.parquet(spark_path))


def test_row_path_writes_one_part_file(spark, eng, spark_jobs):
    path = eng._user_tables["sd"]["path"]
    before = set(os.listdir(path))
    assert spark_jobs(lambda: eng.execute(
        "INSERT INTO sd VALUES (3, 30, 'c'), (4, 40, 'd')"
    )) == (4, 0)
    added = set(os.listdir(path)) - before
    assert len(added) == 1
    name = added.pop()
    assert name.startswith("part-") and name.endswith(".parquet")
    assert manifest.state(spark, path).files[name].rows == 2


def test_insert_select_keeps_spark_path(eng, spark_jobs):
    assert spark_jobs(lambda: eng.execute(
        "INSERT INTO sd SELECT id + 2, amount, tag FROM sd"
    )) == (4, 1)


def test_not_null_values_insert_runs_no_job(eng, spark_jobs):
    """A VALUES list's CHECKs (NOT NULL included) are evaluated over its
    LocalRelation in the driver (one Spark job per CHECK before)."""
    eng.execute("CREATE TABLE nn (id INT NOT NULL, v INT)")
    assert spark_jobs(
        lambda: eng.execute("INSERT INTO nn VALUES (1, 2)")
    ) == (1, 0)
    with pytest.raises(ValueError, match="id_not_null"):
        eng.execute("INSERT INTO nn VALUES (3, 4), (NULL, 5)")
    assert spark_jobs(lambda: eng.execute(
        "INSERT IGNORE INTO nn VALUES (NULL, 6), (7, 8)"
    )) == (2, 0)
    assert [w[1] for w in eng._warnings] == [4025]
    assert sorted(
        tuple(r) for r in eng.execute("SELECT * FROM nn").collect()
    ) == [(1, 2), (7, 8)]


def test_checks_over_a_query_share_one_aggregation(eng, spark_jobs):
    """An INSERT … SELECT evaluates all CHECKs in one aggregation: a
    second CHECK adds no Spark job (two before: a count per CHECK)."""
    eng.execute("CREATE TABLE ck (id INT NOT NULL, v INT)")
    sql = "INSERT INTO ck SELECT id, amount FROM sd"
    one = spark_jobs(lambda: eng.execute(sql))
    eng.execute("ALTER TABLE ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    two = spark_jobs(lambda: eng.execute(sql))
    assert (one[0], two[0]) == (2, 4)
    assert two[1] == one[1]
    with pytest.raises(ValueError, match="v_pos.*by 2 row"):
        eng.execute("INSERT INTO ck SELECT id, -amount FROM sd")


def test_auto_increment_values_insert_runs_no_job(eng, spark_jobs,
                                                  monkeypatch):
    """VALUES rows are numbered in the driver and the counter advances
    from footer statistics (six Spark jobs before); the rows get the ids
    the Spark path gives them."""
    eng.execute("CREATE TABLE ai (id INT AUTO_INCREMENT PRIMARY KEY, v INT)")
    eng.execute("CREATE TABLE ai2 (id INT AUTO_INCREMENT PRIMARY KEY, v INT)")
    assert spark_jobs(
        lambda: eng.execute("INSERT INTO ai (v) VALUES (2)")
    ) == (1, 0)
    mixed = "(id, v) VALUES (NULL, 3), (50, 4), (NULL, 5)"
    assert spark_jobs(
        lambda: eng.execute(f"INSERT INTO ai {mixed}")
    ) == (4, 0)
    assert eng.execute("SELECT LAST_INSERT_ID()") == 2
    eng.execute("INSERT INTO ai (v) VALUES (6)")
    with monkeypatch.context() as m:
        m.setattr(ingest, "as_local", lambda df: None)
        eng.execute("INSERT INTO ai2 (v) VALUES (2)")
        eng.execute(f"INSERT INTO ai2 {mixed}")
        assert eng.execute("SELECT LAST_INSERT_ID()") == 2
        eng.execute("INSERT INTO ai2 (v) VALUES (6)")
    got = sorted(tuple(r) for r in eng.execute("SELECT * FROM ai").collect())
    assert got == [(1, 2), (2, 3), (4, 5), (50, 4), (51, 6)]
    assert got == sorted(
        tuple(r) for r in eng.execute("SELECT * FROM ai2").collect()
    )


def test_auto_increment_scans_a_file_without_statistics(eng, spark_jobs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    eng.execute("CREATE TABLE ai (id INT AUTO_INCREMENT PRIMARY KEY, v INT)")
    eng.execute("INSERT INTO ai (v) VALUES (1)")
    path = eng._user_tables["ai"]["path"]
    pq.write_table(
        pa.table({"id": pa.array([70], pa.int32()),
                  "v": pa.array([7], pa.int32())}),
        os.path.join(path, "part-nostats.parquet"), write_statistics=False,
    )
    # the counter scans the table for its max, 70
    n, jobs = spark_jobs(lambda: eng.execute("INSERT INTO ai (v) VALUES (2)"))
    assert n == 3 and jobs > 0
    eng.execute("INSERT INTO ai (v) VALUES (3)")
    assert sorted(
        tuple(r) for r in eng.execute("SELECT * FROM ai").collect()
    ) == [(1, 1), (2, 2), (70, 7), (71, 3)]


def test_rollback_across_row_path_file(spark, eng):
    eng.execute("BEGIN")
    eng.execute("INSERT INTO sd VALUES (3, 30, 'c')")
    assert eng.execute("SELECT COUNT(*) FROM sd").collect()[0][0] == 3
    eng.execute("ROLLBACK")
    assert sorted(
        r.id for r in eng.execute("SELECT id FROM sd").collect()
    ) == [1, 2]


@pytest.mark.parametrize("sql", [
    "INSERT INTO sd VALUES (3, 30, 'c')",
    "UPDATE sd SET amount = amount + 1 WHERE id = 1",
    "DELETE FROM sd WHERE id = 2",
])
def test_statement_builds_relation_once(eng, monkeypatch, sql):
    calls = []
    read = manifest.read

    def counted(*args, **kwargs):
        calls.append(args[1])
        return read(*args, **kwargs)

    monkeypatch.setattr(manifest, "read", counted)
    eng.execute(sql)
    assert calls == [eng._user_tables["sd"]["path"]]


def test_quiet_analyzer_errors_costs_three_round_trips(eng, py4j_calls):
    eng.sql("SELECT 1")
    with py4j_calls() as calls:
        with eng._quiet_analyzer_errors():
            pass
    assert 0 < calls.n <= 3


def test_dml_keeps_other_cached_relations(spark, eng):
    spark.range(5).createOrReplaceTempView("sd_other")
    spark.catalog.cacheTable("sd_other")
    try:
        eng.execute("INSERT INTO sd VALUES (3, 30, 'c')")
        eng.execute("UPDATE sd SET amount = 0 WHERE id = 1")
        assert spark.catalog.isCached("sd_other")
    finally:
        spark.catalog.uncacheTable("sd_other")


def test_cached_view_sees_dml(spark, eng):
    def rows():
        return sorted(
            (r.id, r.amount)
            for r in eng.execute("SELECT id, amount FROM sd").collect()
        )

    spark.catalog.cacheTable("sd")
    try:
        assert rows() == [(1, 10), (2, 20)]
        eng.execute("INSERT INTO sd VALUES (3, 30, 'c')")
        assert rows() == [(1, 10), (2, 20), (3, 30)]
        eng.execute("UPDATE sd SET amount = 11 WHERE id = 1")
        eng.execute("DELETE FROM sd WHERE id = 2")
        assert rows() == [(1, 11), (3, 30)]
    finally:
        spark.catalog.clearCache()


def test_rewrite_leaves_no_empty_files(spark, eng, tmp_path):
    """A one-row-group file read in several scan splits: only the split
    holding the row group has rows, but each write task leaves a file."""
    path = str(tmp_path / "zr")
    spark.range(4000).selectExpr("id", "id * 2 AS v").coalesce(1) \
        .write.parquet(path)
    eng.attach_table("zr", path)
    size = sum(f.size for f in manifest.state(spark, path).files.values())
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(size // 4))
    try:
        assert eng.execute("UPDATE zr SET v = v + 1 WHERE id < 10") == 4000
    finally:
        spark.conf.set(key, prev)
    files = manifest.state(spark, path).files
    assert files and all(f.rows > 0 for f in files.values())
    eng.execute("DELETE FROM zr")
    files = manifest.state(spark, path).files
    assert len(files) == 1
    assert eng.execute("SELECT COUNT(*) FROM zr").collect()[0][0] == 0


def test_concurrent_relations_follow_writes(spark, tmp_path):
    """Threads appending to their own tables while reading every table:
    each read right after a thread's own append sees exactly the files
    the append left (a relation memoized for an older state of the
    table would miss the new file)."""
    import shutil
    import sys
    import threading

    paths = []
    for i in range(8):
        p = str(tmp_path / f"cr{i}")
        spark.range(5).coalesce(1).write.parquet(p)
        paths.append(p)
    errors = []

    def worker(i):
        try:
            p = paths[i]
            src = manifest.state(spark, p).live_files(p)[0]
            for k in range(6):
                before = manifest.state(spark, p)
                shutil.copy(src, os.path.join(p, f"part-t{k}.parquet"))
                manifest.record(spark, p, before)
                for other in paths:
                    read_table_evolved(spark, other)
                seen = read_table_evolved(spark, p).inputFiles()
                assert len(seen) == k + 2, (p, k, seen)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(len(paths))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
