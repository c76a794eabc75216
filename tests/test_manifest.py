"""Table manifest (sources/manifest.py, extent-map analogue): reads and
counts of attached tables come from recorded file state, not from
re-inferring schemas or re-counting rows.

- A warm manifest gives ``read_table_evolved`` the same schema and rows
  as a fresh rebuild, and the rebuilt schema is the one an independent
  ``mergeSchema`` read gives, across schema evolution, disabled
  partitions, hive partitioning and LOAD DATA.
- Out-of-band changes to the directory rebuild it. A rebuild, an
  attach and ``Engine()`` read schemas from footers in the driver: no
  Spark job, and the schema Spark's inference gives.
- DML statements run one Spark job each (the write); a VALUES INSERT
  runs none.
- State is bounded to the current files and safe to update from
  several threads.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pytest

from mariadb_columnstore_engine_spark.sources import manifest
from mariadb_columnstore_engine_spark.sources.ingest import (
    read_table_evolved,
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _merge_read(spark, path):
    """An independent ``mergeSchema`` read of the table's enabled files."""
    off = manifest.disabled(path)
    live = [f for rel, f in manifest.partitions(path).items()
            if rel not in off]
    reader = spark.read.option("mergeSchema", "true")
    if off:
        return reader.option("basePath", path).parquet(*live)
    return reader.parquet(path)


def _assert_warm_matches_fresh(spark, spark_jobs, path, merge_read=True):
    """The warm relation equals a rebuilt one, the rebuild runs no Spark
    job, and (``merge_read``) its schema is a ``mergeSchema`` read's."""
    warm, jobs = spark_jobs(lambda: read_table_evolved(spark, path))
    assert jobs == 0, "warm read must not infer a schema"
    before = manifest.state(spark, path)
    manifest.forget(path)
    fresh, jobs = spark_jobs(lambda: read_table_evolved(spark, path))
    assert manifest.state(spark, path) is not before, "no rebuild"
    assert jobs == 0, "the rebuild must read footers in the driver"
    if merge_read:
        assert manifest.state(spark, path).schema == \
            _merge_read(spark, path).schema
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


def test_add_column_then_insert(spark, eng, spark_jobs):
    eng.execute("ALTER TABLE mt ADD COLUMN extra INT DEFAULT 5")
    eng.execute(
        "INSERT INTO mt (id, amount, tag, extra) VALUES (3, 30, 'c', 9)"
    )
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng))
    assert df.columns == ["id", "amount", "tag", "extra"]
    assert {r.id: r.extra for r in df.collect()} == {1: 5, 2: 5, 3: 9}


def test_add_after_and_first_then_insert(spark, eng, spark_jobs):
    eng.execute("ALTER TABLE mt ADD COLUMN mid INT DEFAULT 7 AFTER id")
    eng.execute("ALTER TABLE mt ADD COLUMN zeroth INT FIRST")
    eng.execute(
        "INSERT INTO mt (id, amount, tag, mid, zeroth) "
        "VALUES (3, 30, 'c', 1, 0)"
    )
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng))
    assert df.columns == ["zeroth", "id", "mid", "amount", "tag"]


def test_rename_then_insert(spark, eng, spark_jobs):
    """Old files carry the old name, new files the new one; the read
    coalesces them (this INSERT used to fail with an ambiguous column
    on the view refresh)."""
    eng.execute("ALTER TABLE mt RENAME COLUMN amount TO amt")
    assert eng.execute(
        "INSERT INTO mt (id, amt, tag) VALUES (3, 30, 'c')"
    ) == 3
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng))
    assert df.columns == ["id", "amt", "tag"]
    got = {
        (r.id, r.amt)
        for r in eng.execute("SELECT id, amt FROM mt").collect()
    }
    assert got == {(1, 10), (2, 20), (3, 30)}


def test_modify_then_rewrite_then_insert(spark, eng, spark_jobs):
    eng.execute("ALTER TABLE mt MODIFY amount BIGINT")
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng))
    assert df.schema["amount"].dataType.simpleString() == "bigint"
    # the copy-on-write UPDATE materializes the new type in the files
    eng.execute("UPDATE mt SET amount = amount + 1 WHERE id = 1")
    eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (3, 4000000000, 'c')"
    )
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng))
    assert {r.id: r.amount for r in df.collect()} == {
        1: 11, 2: 20, 3: 4000000000,
    }


def test_modify_then_insert_wider_value(spark, eng, spark_jobs):
    """MODIFY leaves INT files next to the INSERT's BIGINT file, a pair
    Spark's mergeSchema refuses but its Parquet reader widens. The
    manifest widens it too, right after the INSERT and on a rebuild."""
    eng.execute("ALTER TABLE mt MODIFY amount BIGINT")
    assert eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (3, 5000000000, 'c')"
    ) == 3
    # (no mergeSchema read to compare with: it refuses INT next to BIGINT)
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng),
                                    merge_read=False)
    assert df.schema["amount"].dataType.simpleString() == "bigint"
    want = {1: 10, 2: 20, 3: 5000000000}
    assert {r.id: r.amount for r in df.collect()} == want
    got = eng.execute("SELECT id, amount FROM mt").collect()
    assert {r.id: r.amount for r in got} == want

def test_disabled_partitions(spark, eng, spark_jobs):
    eng.execute("INSERT INTO mt (id, amount, tag) VALUES (20, 200, 'z')")
    path = _path(eng)
    target = next(
        f for f in os.listdir(path)
        if f.endswith(".parquet")
        and 20 in {r.id for r in spark.read.parquet(
            os.path.join(path, f)).collect()}
    )
    eng.execute(f"SELECT caldisablepartitions('mt','{target}')")
    df = _assert_warm_matches_fresh(spark, spark_jobs, path)
    assert sorted(r.id for r in df.collect()) == [1, 2]
    # the rewrite carries the disabled file; counts exclude it
    assert eng.execute("DELETE FROM mt WHERE id = 2") == 1
    assert manifest.state(spark, path).rows == 2
    df = _assert_warm_matches_fresh(spark, spark_jobs, path)
    assert [r.id for r in df.collect()] == [1]
    # appending next to a disabled file
    assert eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (4, 40, 'd')"
    ) == 3
    _assert_warm_matches_fresh(spark, spark_jobs, path)


def test_hive_partitioned_table(spark, sf_dir, tmp_path, spark_jobs):
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "parted")
    spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).alias("shard")
    ).write.partitionBy("shard").parquet(path)
    eng.attach_table("parted", path)
    df = _assert_warm_matches_fresh(spark, spark_jobs, path)
    assert df.columns == ["id", "shard"]
    assert df.schema["shard"].dataType.simpleString() == "int"
    eng.execute("ALTER TABLE parted DROP PARTITION (shard = 2)")
    df = _assert_warm_matches_fresh(spark, spark_jobs, path)
    assert {r.shard for r in df.collect()} == {0, 1, 3}
    assert manifest.state(spark, path).rows == 30


def test_load_data(spark, eng, tmp_path, spark_jobs):
    src = str(tmp_path / "load.tsv")
    with open(src, "w") as fh:
        fh.write("7\t70\tg\n8\t80\th\n")
    assert eng.execute(f"LOAD DATA INFILE '{src}' INTO TABLE mt") == 4
    df = _assert_warm_matches_fresh(spark, spark_jobs, _path(eng))
    assert sorted(r.id for r in df.collect()) == [1, 2, 7, 8]


# --- schemas from footers, no Spark job ---------------------------------


@pytest.fixture(scope="module")
def probe_dir(sf_dir, tmp_path_factory):
    """The probe fixture (tools/gen_probe_fixture.py), which adds the
    optional catalog tables."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_probe_fixture import generate

    dest = str(tmp_path_factory.mktemp("probe") / "sf")
    generate(sf_dir, dest)
    return dest


@pytest.mark.parametrize("fixture", ["sf_dir", "probe_dir"])
def test_reader_matches_schema_inference(spark, request, fixture):
    """Each catalog table's schema, read from its footer in the driver,
    is the one Spark's schema inference gives."""
    from mariadb_columnstore_engine_spark.catalog import (
        OPTIONAL_TABLES,
        TABLES,
    )

    root = request.getfixturevalue(fixture)
    names = [t for t in TABLES + OPTIONAL_TABLES
             if os.path.exists(f"{root}/{t}.parquet")]
    assert len(names) == (10 if fixture == "sf_dir" else 13)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    paths = [f"{root}/{t}.parquet" for t in names]
    for path, df in zip(paths, manifest.read_parquet(spark, paths)):
        assert df.schema == spark.read.parquet(path).schema, path


def test_engine_runs_no_spark_job(spark, sf_dir, spark_jobs):
    from mariadb_columnstore_engine_spark.engine import Engine

    fresh = spark.newSession()
    # a vanilla session: the catalog sets what events needs
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    eng, jobs = spark_jobs(lambda: Engine(fresh, sf_dir))
    assert jobs == 0
    ts = eng.execute("SELECT min(ts) FROM events").collect()[0][0]
    assert ts.year == 2024


def test_attach_runs_no_spark_job(spark, eng, tmp_path, spark_jobs):
    path = str(tmp_path / "orders_copy")
    eng.table("orders").repartition(3).write.parquet(path)
    _, jobs = spark_jobs(lambda: eng.attach_table("orders_copy", path))
    assert jobs == 0
    assert manifest.state(spark, path).schema == \
        spark.read.option("mergeSchema", "true").parquet(path).schema
    assert eng.execute("SELECT COUNT(*) FROM orders_copy").collect()[0][0] \
        == eng.table("orders").count()


# --- out-of-band changes rebuild --------------------------------------


def test_hand_copied_file_rebuilds(spark, eng, spark_jobs):
    path = _path(eng)
    before = manifest.state(spark, path)
    rel, entry = max(before.files.items(), key=lambda kv: kv[1].rows)
    shutil.copy(os.path.join(path, rel),
                os.path.join(path, "part-hand-copied.parquet"))
    st, jobs = spark_jobs(lambda: manifest.state(spark, path))
    assert st is not before and jobs == 0
    assert st.schema == _merge_read(spark, path).schema
    assert st.rows == before.rows + entry.rows == 4
    assert read_table_evolved(spark, path).count() == st.rows


def test_compaction_rebuilds(spark, eng, spark_jobs):
    from mariadb_columnstore_engine_spark.sources import maintenance

    for i in range(3):
        eng.execute(
            f"INSERT INTO mt (id, amount, tag) VALUES ({10 + i}, 1, 'x')"
        )
    path = _path(eng)
    before = manifest.state(spark, path)
    maintenance.compact_table(spark, path)
    manifest.forget(path)  # as if another process had compacted it
    st, jobs = spark_jobs(lambda: manifest.state(spark, path))
    assert st is not before and jobs == 0
    assert set(st.files) != set(before.files)
    assert st.rows == before.rows == 5
    _assert_warm_matches_fresh(spark, spark_jobs, path)


def test_rollback_rebuilds(spark, eng, spark_jobs):
    path = _path(eng)
    eng.begin()
    eng.execute(
        "INSERT INTO mt (id, amount, tag) VALUES (3, 30, 'c'), (4, 40, 'd')"
    )
    eng.execute("DELETE FROM mt WHERE id = 1")
    assert manifest.state(spark, path).rows == 3
    eng.rollback()
    st, jobs = spark_jobs(lambda: manifest.state(spark, path))
    assert st.rows == 2 and jobs == 0
    assert sorted(
        r.id for r in eng.execute("SELECT id FROM mt").collect()
    ) == [1, 2]
    _assert_warm_matches_fresh(spark, spark_jobs, path)


# --- Spark jobs per statement -----------------------------------------


#: statement → Spark jobs it runs: the write, and none for a VALUES
#: INSERT (the row path collects its LocalRelation and writes with pyarrow)
_DML_JOBS = {
    "INSERT INTO mt (id, amount, tag) VALUES (3, 30, 'c')": 0,
    "INSERT INTO mt (id, amount, tag) SELECT id + 10, amount, tag FROM mt":
        1,
    "UPDATE mt SET amount = amount + 1 WHERE id = 1": 1,
    "DELETE FROM mt WHERE id = 2": 1,
}


@pytest.mark.parametrize("sql", list(_DML_JOBS))
def test_dml_runs_one_spark_job(eng, sql, spark_jobs):
    n, jobs = spark_jobs(lambda: eng.execute(sql))
    assert isinstance(n, int)
    assert jobs == _DML_JOBS[sql], f"{sql!r} ran {jobs} Spark jobs"


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
