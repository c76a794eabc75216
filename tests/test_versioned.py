"""Versioned reads through the engine — the BRM version-buffer analogue:
copy-on-write DML never touches a committed file, BEGIN pins a
hardlinked pre-image (``dml.snapshot_tree``) and ROLLBACK swaps it back
in (``Engine.begin``/``rollback``)."""

from __future__ import annotations

import pytest


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "vt")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
        "id bigint, tag string, val double",
    ).write.parquet(path)
    eng.attach_table("vt", path)
    return eng


def _rows(df):
    return sorted((r.id, r.tag, r.val) for r in df.collect())


ORIGINAL = [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)]


def test_snapshot_isolation_across_update(spark, eng):
    eng.execute("BEGIN")
    [pre_image] = eng._txn.values()
    eng.execute("UPDATE vt SET val = 99.0 WHERE id = 2")
    # the pinned pre-image still reads the committed rows
    assert _rows(spark.read.parquet(pre_image)) == ORIGINAL
    assert (2, "b", 99.0) in _rows(eng.execute("SELECT * FROM vt"))
    eng.execute("COMMIT")


def test_update_null_predicate_rows_untouched(eng):
    # tag = 'zz' is NULL for id=3 → must not be treated as a match
    eng.execute("UPDATE vt SET val = 0.0 WHERE tag = 'zz'")
    assert _rows(eng.execute("SELECT * FROM vt")) == ORIGINAL


def test_delete_null_predicate_keeps_row(eng):
    eng.execute("DELETE FROM vt WHERE tag = 'a'")
    assert _rows(eng.execute("SELECT * FROM vt")) == ORIGINAL[1:]


def test_rollback_restores_pre_image(eng):
    eng.execute("BEGIN")
    eng.execute("DELETE FROM vt WHERE id > 0")
    assert eng.execute("SELECT * FROM vt").count() == 0
    eng.execute("ROLLBACK")
    assert _rows(eng.execute("SELECT * FROM vt")) == ORIGINAL
    # no open transaction → nothing to roll back to
    with pytest.raises(ValueError):
        eng.execute("ROLLBACK")
