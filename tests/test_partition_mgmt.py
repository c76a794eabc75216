"""Partition management UDF analogues (ha_mcs_partition.cpp:484-738,
udf_calshowpartitions.test): calshowpartitions / caldisablepartitions /
calenablepartitions / caldroppartitions. Partition unit = data file
(the extent analogue): disable = file-level scan exclusion (never
opened), drop = O(1) file removal, both surviving copy-on-write DML.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def eng_parts(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE pt (id BIGINT, grp VARCHAR(5))")
    # three inserts → at least three files (append writes new files)
    eng.execute("INSERT INTO pt (id, grp) VALUES (1,'a'), (2,'a')")
    eng.execute("INSERT INTO pt (id, grp) VALUES (10,'b'), (11,'b')")
    eng.execute("INSERT INTO pt (id, grp) VALUES (20,'c')")
    return eng


def _parts(eng, status=None):
    out = eng.execute("SELECT calshowpartitions('pt','id')")
    rows = [ln.split() for ln in out.splitlines()[1:]]
    if status:
        rows = [r for r in rows if r[3] == status]
    return rows


def test_show_partitions_minmax(eng_parts):
    rows = _parts(eng_parts)
    assert len(rows) >= 3
    assert all(r[3] == "Enabled" for r in rows)
    # the zero-row file CREATE TABLE materializes has no footer stats
    mins = sorted(int(r[1]) for r in rows if r[1] != "None")
    assert mins[0] == 1 and mins[-1] == 20


def test_disable_hides_rows_and_enable_restores(eng_parts):
    # find the file holding id=20
    target = next(r[0] for r in _parts(eng_parts) if r[1] == "20")
    eng_parts.execute(f"SELECT caldisablepartitions('pt','{target}')")
    ids = sorted(
        r.id for r in eng_parts.execute("SELECT id FROM pt").collect()
    )
    assert 20 not in ids and 1 in ids
    assert _parts(eng_parts, "Disabled")[0][0] == target
    eng_parts.execute(f"SELECT calenablepartitions('pt','{target}')")
    ids = sorted(
        r.id for r in eng_parts.execute("SELECT id FROM pt").collect()
    )
    assert 20 in ids


def test_disabled_partition_survives_dml_rewrite(eng_parts):
    target = next(r[0] for r in _parts(eng_parts) if r[1] == "20")
    eng_parts.execute(f"SELECT caldisablepartitions('pt','{target}')")
    # copy-on-write UPDATE touches only visible rows; the disabled
    # file must be carried through the swap byte-wise
    eng_parts.execute("UPDATE pt SET grp = 'z' WHERE id = 1")
    eng_parts.execute(
        "SELECT calenablepartitions('pt','"
        + _parts(eng_parts, "Disabled")[0][0]
        + "')"
    )
    rows = {
        (r.id, r.grp)
        for r in eng_parts.execute("SELECT * FROM pt").collect()
    }
    assert (20, "c") in rows and (1, "z") in rows


def test_drop_partition_removes_file_and_rows(eng_parts):
    target = next(r[0] for r in _parts(eng_parts) if r[1] == "20")
    eng_parts.execute(f"SELECT caldroppartitions('pt','{target}')")
    ids = sorted(
        r.id for r in eng_parts.execute("SELECT id FROM pt").collect()
    )
    assert ids == [1, 2, 10, 11]
    assert target not in [r[0] for r in _parts(eng_parts)]


def test_unknown_partition_rejected(eng_parts):
    with pytest.raises(ValueError, match="no such partition"):
        eng_parts.execute(
            "SELECT caldisablepartitions('pt','nope.parquet')"
        )


def test_cannot_drop_all_partitions(eng_parts):
    names = ",".join(r[0] for r in _parts(eng_parts))
    with pytest.raises(ValueError, match="every partition"):
        eng_parts.execute(f"SELECT caldroppartitions('pt','{names}')")


def test_partition_key_is_path_within_table(spark, tmp_path):
    """A hive-partitioned write gives every ``shard=N`` directory the
    same ``part-*`` names: a partition is one file, named by its path
    within the table, and its min/max is that file's own."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.sources import ingest, maintenance

    path = str(tmp_path / "sharded")
    # two tasks, each writing one 5-row file into each of 4 shard dirs
    spark.range(0, 40, 1, 2).select(
        "id", (F.col("id") % 4).alias("shard")
    ).write.partitionBy("shard").parquet(path)
    parts = maintenance.show_partitions(spark, path, "id")
    assert len(parts) == 8
    target = parts[0]["partition"]
    maintenance.disable_partitions(path, [target])
    ids = {r.id for r in ingest.read_table_evolved(spark, path).collect()}
    assert len(ids) == 35  # only the one file's rows are hidden
    file_ids = pq.read_table(os.path.join(path, target))["id"].to_pylist()
    assert ids == set(range(40)) - set(file_ids)
    parts = maintenance.show_partitions(spark, path, "id")
    assert [p["partition"] for p in parts if p["status"] == "Disabled"] \
        == [target]
    for p in parts:
        ids = pq.read_table(
            os.path.join(path, p["partition"])
        )["id"].to_pylist()
        assert (p["min"], p["max"]) == (min(ids), max(ids))
