"""Table manifest (sources/manifest.py, extent-map analogue): reads and
counts of attached tables come from recorded file state, not from
re-inferring schemas or re-counting rows.

- A warm manifest gives ``read_table_evolved`` the same schema and rows
  as a fresh ``mergeSchema`` rebuild, across schema evolution, disabled
  partitions, hive partitioning and LOAD DATA.
- Out-of-band changes to the directory rebuild it.
- DML statements run one Spark job each (the write).
- State is bounded to the current files and safe to update from
  several threads.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

import pytest

from mariadb_columnstore_engine_spark.sources import manifest
from mariadb_columnstore_engine_spark.sources.ingest import (
    read_table_evolved,
)


def _jobs(spark, fn):
    """(result, Spark jobs fn ran) under a private job group."""
    sc = spark.sparkContext
    group = f"manifest-test-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_warm_matches_fresh(spark, path):
    warm, jobs = _jobs(spark, lambda: read_table_evolved(spark, path))
    assert jobs == 0, "warm read must not infer a schema"
    manifest.forget(path)
    fresh, jobs = _jobs(spark, lambda: read_table_evolved(spark, path))
    assert jobs >= 1, "forgotten state must rebuild with a Spark read"
    assert [(f.name, f.dataType) for f in warm.schema.fields] == [
        (f.name, f.dataType) for f in fresh.schema.fields
    ]
    assert _rows(warm) == _rows(fresh)
    return warm


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE mt (id BIGINT, amount INT, tag VARCHAR(10))")
    eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (1, 10, 'a'), (2, 20, 'b')"
    )
    return eng


def _path(eng, table="mt"):
    return eng._user_tables[table]["path"]


# --- warm manifest == fresh mergeSchema read ---------------------------


def test_add_column_then_insert(spark, eng):
    eng.execute("ALTER TABLE mt ADD COLUMN extra INT DEFAULT 5")
    eng.execute(
        "INSERT INTO mt (id, amount, tag, extra) VALUES (3, 30, 'c', 9)"
    )
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert df.columns == ["id", "amount", "tag", "extra"]
    assert {r.id: r.extra for r in df.collect()} == {1: 5, 2: 5, 3: 9}


def test_add_after_and_first_then_insert(spark, eng):
    eng.execute("ALTER TABLE mt ADD COLUMN mid INT DEFAULT 7 AFTER id")
    eng.execute("ALTER TABLE mt ADD COLUMN zeroth INT FIRST")
    eng.execute(
        "INSERT INTO mt (id, amount, tag, mid, zeroth) "
        "VALUES (3, 30, 'c', 1, 0)"
    )
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert df.columns == ["zeroth", "id", "mid", "amount", "tag"]


def test_rename_then_insert(spark, eng):
    """Old files carry the old name, new files the new one; the read
    coalesces them (this INSERT used to fail with an ambiguous column
    on the view refresh)."""
    eng.execute("ALTER TABLE mt RENAME COLUMN amount TO amt")
    assert eng.execute(
        "INSERT INTO mt (id, amt, tag) VALUES (3, 30, 'c')"
    ) == 3
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert df.columns == ["id", "amt", "tag"]
    got = {
        (r.id, r.amt)
        for r in eng.execute("SELECT id, amt FROM mt").collect()
    }
    assert got == {(1, 10), (2, 20), (3, 30)}


def test_modify_then_rewrite_then_insert(spark, eng):
    eng.execute("ALTER TABLE mt MODIFY amount BIGINT")
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert df.schema["amount"].dataType.simpleString() == "bigint"
    # the copy-on-write UPDATE materializes the new type in the files
    eng.execute("UPDATE mt SET amount = amount + 1 WHERE id = 1")
    eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (3, 4000000000, 'c')"
    )
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert {r.id: r.amount for r in df.collect()} == {
        1: 11, 2: 20, 3: 4000000000,
    }


def test_modify_then_insert_wider_value(spark, eng):
    """MODIFY leaves INT files next to the INSERT's BIGINT file, a pair
    Spark's mergeSchema refuses but its Parquet reader widens. The
    manifest widens it too, right after the INSERT and on a rebuild."""
    eng.execute("ALTER TABLE mt MODIFY amount BIGINT")
    assert eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (3, 5000000000, 'c')"
    ) == 3
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert df.schema["amount"].dataType.simpleString() == "bigint"
    want = {1: 10, 2: 20, 3: 5000000000}
    assert {r.id: r.amount for r in df.collect()} == want
    got = eng.execute("SELECT id, amount FROM mt").collect()
    assert {r.id: r.amount for r in got} == want

def test_disabled_partitions(spark, eng):
    eng.execute("INSERT INTO mt (id, amount, tag) VALUES (20, 200, 'z')")
    path = _path(eng)
    target = next(
        f for f in os.listdir(path)
        if f.endswith(".parquet")
        and 20 in {r.id for r in spark.read.parquet(
            os.path.join(path, f)).collect()}
    )
    eng.execute(f"SELECT caldisablepartitions('mt','{target}')")
    df = _assert_warm_matches_fresh(spark, path)
    assert sorted(r.id for r in df.collect()) == [1, 2]
    # the rewrite carries the disabled file; counts exclude it
    assert eng.execute("DELETE FROM mt WHERE id = 2") == 1
    assert manifest.state(spark, path).rows == 2
    df = _assert_warm_matches_fresh(spark, path)
    assert [r.id for r in df.collect()] == [1]
    # appending next to a disabled file
    assert eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (4, 40, 'd')"
    ) == 3
    _assert_warm_matches_fresh(spark, path)


def test_hive_partitioned_table(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "parted")
    spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).alias("shard")
    ).write.partitionBy("shard").parquet(path)
    eng.attach_table("parted", path)
    df = _assert_warm_matches_fresh(spark, path)
    assert df.columns == ["id", "shard"]
    assert df.schema["shard"].dataType.simpleString() == "int"
    eng.execute("ALTER TABLE parted DROP PARTITION (shard = 2)")
    df = _assert_warm_matches_fresh(spark, path)
    assert {r.shard for r in df.collect()} == {0, 1, 3}
    assert manifest.state(spark, path).rows == 30


def test_load_data(spark, eng, tmp_path):
    src = str(tmp_path / "load.tsv")
    with open(src, "w") as fh:
        fh.write("7\t70\tg\n8\t80\th\n")
    assert eng.execute(f"LOAD DATA INFILE '{src}' INTO TABLE mt") == 4
    df = _assert_warm_matches_fresh(spark, _path(eng))
    assert sorted(r.id for r in df.collect()) == [1, 2, 7, 8]


# --- out-of-band changes rebuild --------------------------------------


def test_hand_copied_file_rebuilds(spark, eng):
    path = _path(eng)
    before = manifest.state(spark, path)
    rel, entry = max(before.files.items(), key=lambda kv: kv[1].rows)
    shutil.copy(os.path.join(path, rel),
                os.path.join(path, "part-hand-copied.parquet"))
    st, jobs = _jobs(spark, lambda: manifest.state(spark, path))
    assert jobs >= 1
    assert st.rows == before.rows + entry.rows == 4
    assert read_table_evolved(spark, path).count() == st.rows


def test_compaction_rebuilds(spark, eng):
    from mariadb_columnstore_engine_spark.sources import maintenance

    for i in range(3):
        eng.execute(
            f"INSERT INTO mt (id, amount, tag) VALUES ({10 + i}, 1, 'x')"
        )
    path = _path(eng)
    before = manifest.state(spark, path)
    maintenance.compact_table(spark, path)
    st = manifest.state(spark, path)
    assert st is not before
    assert set(st.files) != set(before.files)
    assert st.rows == before.rows == 5
    _assert_warm_matches_fresh(spark, path)


def test_rollback_rebuilds(spark, eng):
    path = _path(eng)
    eng.begin()
    eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (3, 30, 'c'), (4, 40, 'd')"
    )
    eng.execute("DELETE FROM mt WHERE id = 1")
    assert manifest.state(spark, path).rows == 3
    eng.rollback()
    assert manifest.state(spark, path).rows == 2
    assert sorted(
        r.id for r in eng.execute("SELECT id FROM mt").collect()
    ) == [1, 2]
    _assert_warm_matches_fresh(spark, path)


# --- Spark jobs per statement -----------------------------------------


@pytest.mark.parametrize("sql", [
    "INSERT INTO mt (id, amount, tag) VALUES (3, 30, 'c')",
    "UPDATE mt SET amount = amount + 1 WHERE id = 1",
    "DELETE FROM mt WHERE id = 2",
])
def test_dml_runs_one_spark_job(spark, eng, sql):
    n, jobs = _jobs(spark, lambda: eng.execute(sql))
    assert isinstance(n, int)
    assert jobs == 1, f"{sql!r} ran {jobs} Spark jobs"


def test_values_insert_writes_one_file(spark, eng):
    path = _path(eng)
    files = set(manifest.state(spark, path).files)
    eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES "
        "(3, 1, 'a'), (4, 1, 'b'), (5, 1, 'c'), (6, 1, 'd'), (7, 1, 'e')"
    )
    added = set(manifest.state(spark, path).files) - files
    assert len(added) == 1
    assert manifest.state(spark, path).files[added.pop()].rows == 5


# --- bounded, thread-safe state ---------------------------------------


def test_rewrites_keep_state_bounded(spark, eng):
    path = _path(eng)
    n_tables = len(manifest._TABLES)
    for i in range(4):
        eng.execute(f"UPDATE mt SET amount = amount + {i} WHERE id = 1")
        st = manifest.state(spark, path)
        assert set(st.files) == set(manifest._listing(path))
        assert len(manifest._TABLES) == n_tables


def test_concurrent_records(spark, tmp_path):
    """Threads appending to their own tables and reading each other's
    state leave every table's state equal to its directory."""
    paths = []
    for i in range(4):
        p = str(tmp_path / f"cc{i}")
        spark.range(10 * (i + 1)).coalesce(1).write.parquet(p)
        manifest.state(spark, p)
        paths.append(p)
    errors = []

    def worker(i):
        try:
            p = paths[i]
            src = manifest.state(spark, p).live_files(p)[0]
            for k in range(10):
                before = manifest.state(spark, p)
                shutil.copy(src, os.path.join(p, f"part-t{k}.parquet"))
                manifest.record(spark, p, before)
                for other in paths:
                    manifest.state(spark, other)
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    for i, p in enumerate(paths):
        st = manifest.state(spark, p)
        assert set(st.files) == set(manifest._listing(p))
        assert st.rows == 11 * 10 * (i + 1)
