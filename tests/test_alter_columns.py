"""Instant column RENAME / CHANGE / MODIFY (mcs12_alter_table.test,
mcs87_alter_column.test; the reference's DDLProc alters SYSCOLUMN
metadata O(1), altertable.cpp defers data conversion) and INSERT IGNORE
(mcol641-insert): constraint-violating rows skipped, not fatal.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def eng_ac(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATE TABLE ac (id BIGINT, amount INT, tag VARCHAR(10))")
    eng.execute(
        "INSERT INTO ac (id, amount, tag) VALUES "
        "(1, 10, 'a'), (2, 20, 'b')"
    )
    return eng


def test_sidecar_write_is_atomic(eng_ac, monkeypatch):
    """A sidecar write that dies half-way leaves the previous sidecar
    readable: the new text goes to a temp file that replaces the live
    one only once complete."""
    import json

    from mariadb_columnstore_engine_spark.sources import ingest

    path = eng_ac._user_tables["ac"]["path"]
    ingest.add_check_constraint(path, "amount_pos", "amount > 0")
    before = ingest._evolution(path)

    def torn_dump(obj, fp, **kw):
        text = json.dumps(obj, **kw)
        fp.write(text[: len(text) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        ingest.add_check_constraint(path, "id_pos", "id > 0")
    monkeypatch.undo()
    assert ingest._evolution(path) == before
    assert [f for f in os.listdir(path) if f.startswith("_schema")] == [
        "_schema_evolution.json"
    ]
    rows = eng_ac.execute("SELECT id FROM ac").collect()
    assert sorted(r.id for r in rows) == [1, 2]


def test_rename_column_instant(eng_ac):
    eng_ac.execute("ALTER TABLE ac RENAME COLUMN amount TO amt")
    rows = {
        (r.id, r.amt) for r in eng_ac.execute("SELECT id, amt FROM ac").collect()
    }
    assert rows == {(1, 10), (2, 20)}
    with pytest.raises(Exception):
        eng_ac.execute("SELECT amount FROM ac").collect()


def test_rename_keeps_collation(eng_ac):
    """A declared COLLATE follows the column through RENAME COLUMN."""
    eng_ac.execute(
        "CREATE TABLE rc (id INT, seg VARCHAR(20) COLLATE utf8mb4_unicode_ci)"
    )
    eng_ac.execute(
        "INSERT INTO rc VALUES (1, 'Auto'), (2, 'AUTO'), (3, 'auto')"
    )

    def count(col):
        return eng_ac.execute(
            f"SELECT COUNT(*) FROM rc WHERE {col} = 'AUTO'"
        ).collect()[0][0]

    assert count("seg") == 3
    eng_ac.execute("ALTER TABLE rc RENAME COLUMN seg TO seg2")
    assert count("seg2") == 3


def test_rename_then_dml_materializes(eng_ac):
    eng_ac.execute("ALTER TABLE ac RENAME COLUMN amount TO amt")
    eng_ac.execute("UPDATE ac SET amt = 99 WHERE id = 1")
    # after the copy-on-write the rename is physical; reads still work
    rows = {
        (r.id, r.amt) for r in eng_ac.execute("SELECT id, amt FROM ac").collect()
    }
    assert rows == {(1, 99), (2, 20)}
    eng_ac.execute("INSERT INTO ac (id, amt, tag) VALUES (3, 30, 'c')")
    assert eng_ac.execute(
        "SELECT count(*) AS n FROM ac"
    ).collect()[0].n == 3


def test_modify_column_type(eng_ac):
    eng_ac.execute("ALTER TABLE ac MODIFY amount BIGINT")
    [f] = [
        f for f in eng_ac.execute("SELECT * FROM ac").schema.fields
        if f.name == "amount"
    ]
    assert f.dataType.simpleString() == "bigint"


def test_change_column_rename_and_retype(eng_ac):
    eng_ac.execute("ALTER TABLE ac CHANGE amount total BIGINT")
    df = eng_ac.execute("SELECT id, total FROM ac")
    [f] = [x for x in df.schema.fields if x.name == "total"]
    assert f.dataType.simpleString() == "bigint"
    assert {(r.id, r.total) for r in df.collect()} == {(1, 10), (2, 20)}


def test_rename_refused_when_check_references(eng_ac):
    eng_ac.execute(
        "ALTER TABLE ac ADD CONSTRAINT amt_pos CHECK (amount >= 0)"
    )
    with pytest.raises(ValueError, match="referenced by CHECK"):
        eng_ac.execute("ALTER TABLE ac RENAME COLUMN amount TO amt")


def test_rename_unknown_or_duplicate(eng_ac):
    with pytest.raises(ValueError, match="no such column"):
        eng_ac.execute("ALTER TABLE ac RENAME COLUMN nope TO x")
    with pytest.raises(ValueError, match="already exists"):
        eng_ac.execute("ALTER TABLE ac RENAME COLUMN amount TO tag")


def test_insert_ignore_skips_check_violations(eng_ac):
    eng_ac.execute(
        "ALTER TABLE ac ADD CONSTRAINT amt_pos CHECK (amount >= 0)"
    )
    # plain INSERT: statement fails atomically
    with pytest.raises(ValueError, match="amt_pos"):
        eng_ac.execute(
            "INSERT INTO ac (id, amount, tag) VALUES (3, -5, 'x')"
        )
    # INSERT IGNORE: bad row skipped, good row lands
    eng_ac.execute(
        "INSERT IGNORE INTO ac (id, amount, tag) VALUES "
        "(3, -5, 'x'), (4, 40, 'y')"
    )
    ids = sorted(r.id for r in eng_ac.execute("SELECT id FROM ac").collect())
    assert ids == [1, 2, 4]


def test_show_warnings_after_insert_ignore(eng_ac):
    eng_ac.execute(
        "ALTER TABLE ac ADD CONSTRAINT amt_pos CHECK (amount >= 0)"
    )
    eng_ac.execute(
        "INSERT IGNORE INTO ac (id, amount, tag) VALUES "
        "(3, -5, 'x'), (4, -6, 'y'), (5, 50, 'z')"
    )
    warns = eng_ac.execute("SHOW WARNINGS")
    assert len(warns) == 1
    level, code, msg = warns[0]
    assert level == "Warning" and code == 4025 and "2 row(s)" in msg
    # a clean insert clears the diagnostics area
    eng_ac.execute("INSERT INTO ac (id, amount, tag) VALUES (6, 1, 'w')")
    assert eng_ac.execute("SHOW WARNINGS") == []


def test_add_column_after_and_first(eng_ac):
    """mcs87_alter_column: ADD COLUMN .. AFTER c / FIRST places the
    column in the logical order — a read-side projection fact, zero
    data movement; SELECT * and DESCRIBE observe the order."""
    eng = eng_ac
    eng.execute("ALTER TABLE ac ADD COLUMN mid INT DEFAULT 7 AFTER id")
    assert [c for c, _ in eng.describe("ac")][:2] == ["id", "mid"]
    eng.execute("ALTER TABLE ac ADD COLUMN zeroth INT FIRST")
    cols = [c for c, _ in eng.describe("ac")]
    assert cols[0] == "zeroth" and cols[1] == "id" and cols[2] == "mid"
    row = eng.execute("SELECT * FROM ac WHERE id = 1").collect()[0]
    assert row[0] is None and row[1] == 1 and row[2] == 7


def test_check_optimize_repair_flush(eng_ac):
    """CHECK/OPTIMIZE/REPAIR TABLE status rows (MariaDB admin-statement
    shapes); FLUSH TABLES refreshes attached views."""
    eng = eng_ac
    rows = eng.execute("CHECK TABLE ac")
    assert ("ac", "check", "status", "OK") in rows
    rows = eng.execute("OPTIMIZE TABLE ac, nope")
    assert ("ac", "optimize", "status", "OK") in rows
    assert any(r[0] == "nope" and r[2] == "Error" for r in rows)
    rows = eng.execute("REPAIR TABLE ac")
    assert ("ac", "repair", "status", "OK") in rows
    assert eng.execute("FLUSH TABLES") is None
    assert eng.execute("FLUSH LOCAL TABLES WITH READ LOCK") is None
