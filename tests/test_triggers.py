"""Triggers, set-based (mcs60_trigger.test; sources/triggers.py).

The reference fires row triggers through mysqld FOR EACH ROW; this
engine interprets the supported subset as set operations (BEFORE
bodies → one per-column projection; AFTER bodies → once per statement
over the affected-row relation). These tests pin the mcs60 shapes —
including the UPDATE-trigger half the reference itself has commented
out pending MCOL-4273 — plus composition order and the refusals.
"""

import pytest

from mariadb_columnstore_engine_spark.engine import Engine


@pytest.fixture()
def eng(spark, sf_dir, tmp_path):
    e = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    e.execute("CREATE TABLE t1 (i INT, j INT)")
    return e


def test_before_insert_caps_value(eng):
    """mcs60 trg1: IF NEW.j > 10 THEN SET NEW.j := 10 END IF — the
    exact MTR body, applied as one projection over the batch."""
    eng.execute(
        "CREATE TRIGGER trg1 BEFORE INSERT ON t1 FOR EACH ROW "
        "BEGIN "
        "IF NEW.j > 10 THEN "
        "  SET NEW.j := 10; "
        "END IF; "
        "END"
    )
    eng.execute("INSERT INTO t1 VALUES (1,2),(2,3),(3,14)")
    rows = sorted(
        (r.i, r.j)
        for r in eng.execute("SELECT i, j FROM t1").collect()
    )
    assert rows == [(1, 2), (2, 3), (3, 10)]
    # INSERT .. SELECT passes through the same transform
    eng.execute(
        "INSERT INTO t1 SELECT i + 10, j * 7 FROM t1 WHERE i = 1"
    )
    got = eng.execute("SELECT j FROM t1 WHERE i = 11").collect()
    assert got[0].j == 10  # 2*7=14 → capped
    eng.execute("DROP TRIGGER trg1")


def test_before_insert_sequential_set_visibility(eng):
    """MariaDB SET statements inside one trigger see earlier SETs'
    results — the symbolic env must thread through."""
    eng.execute(
        "CREATE TRIGGER seq BEFORE INSERT ON t1 FOR EACH ROW "
        "BEGIN "
        "SET NEW.i = NEW.i + 1; "
        "SET NEW.j = NEW.i * 100; "
        "END"
    )
    eng.execute("INSERT INTO t1 VALUES (1, 0)")
    r = eng.execute("SELECT i, j FROM t1").collect()[0]
    assert (r.i, r.j) == (2, 200)
    eng.execute("DROP TRIGGER seq")


def test_before_insert_elseif_and_two_triggers_compose(eng):
    """ELSEIF branches nest into CASE; two triggers on the same event
    apply in creation order (second sees first's NEW values)."""
    eng.execute(
        "CREATE TRIGGER a1 BEFORE INSERT ON t1 FOR EACH ROW "
        "BEGIN "
        "IF NEW.j < 0 THEN SET NEW.j = 0; "
        "ELSEIF NEW.j > 100 THEN SET NEW.j = 100; "
        "ELSE SET NEW.j = NEW.j * 2; "
        "END IF; "
        "END"
    )
    eng.execute(
        "CREATE TRIGGER a2 BEFORE INSERT ON t1 FOR EACH ROW "
        "SET NEW.i = NEW.j + 1"
    )
    eng.execute("INSERT INTO t1 VALUES (9, -5), (9, 500), (9, 30)")
    rows = sorted(
        (r.i, r.j)
        for r in eng.execute("SELECT i, j FROM t1").collect()
    )
    assert rows == [(1, 0), (61, 60), (101, 100)]
    eng.execute("DROP TRIGGER a1")
    eng.execute("DROP TRIGGER a2")


def test_before_update_old_new(eng):
    """mcs60 trg2 (commented out in the reference pending its own
    MCOL-4273): IF OLD.i % 2 = 0 THEN SET NEW.j := -1 — OLD reads the
    pre-update row, the user's SET j = 20 is the NEW baseline."""
    eng.execute("INSERT INTO t1 VALUES (1, 2), (2, 3), (3, 14)")
    eng.execute(
        "CREATE TRIGGER trg2 BEFORE UPDATE ON t1 FOR EACH ROW "
        "BEGIN "
        "IF OLD.i % 2 = 0 THEN "
        "  SET NEW.j := -1; "
        "END IF; "
        "END"
    )
    eng.execute("UPDATE t1 SET j = 20")
    rows = sorted(
        (r.i, r.j)
        for r in eng.execute("SELECT i, j FROM t1").collect()
    )
    assert rows == [(1, 20), (2, -1), (3, 20)]
    eng.execute("DROP TRIGGER trg2")


def test_after_update_existential_if_sets_var(eng):
    """mcs60 trg3 (also commented out in the reference): AFTER UPDATE
    with IF NEW.j = 30 THEN SET @fired = 'Yes' — the IF quantifies
    existentially over the affected rows (statement-level reading)."""
    eng.execute("INSERT INTO t1 VALUES (1, 2), (2, 3)")
    eng.execute(
        "CREATE TRIGGER trg3 AFTER UPDATE ON t1 FOR EACH ROW "
        "BEGIN "
        "IF NEW.j = 30 THEN "
        "  SET @fired = 'Yes'; "
        "END IF; "
        "END"
    )
    eng.execute("SET @fired = ''")
    eng.execute("UPDATE t1 SET j = 29 WHERE i = 1")
    assert eng.execute("SELECT @fired AS f").collect()[0].f == ""
    eng.execute("UPDATE t1 SET j = 30")
    assert eng.execute("SELECT @fired AS f").collect()[0].f == "Yes"
    eng.execute("DROP TRIGGER trg3")


def test_after_insert_audit_table(eng):
    """Audit pattern: AFTER INSERT writes one audit row per inserted
    row — executed as a single INSERT..SELECT over the batch."""
    eng.execute("CREATE TABLE audit (i INT, jj INT)")
    eng.execute(
        "CREATE TRIGGER aud AFTER INSERT ON t1 FOR EACH ROW "
        "INSERT INTO audit VALUES (NEW.i, NEW.j * 10)"
    )
    eng.execute("INSERT INTO t1 VALUES (1, 2), (2, 3)")
    rows = sorted(
        (r.i, r.jj)
        for r in eng.execute("SELECT i, jj FROM audit").collect()
    )
    assert rows == [(1, 20), (2, 30)]
    eng.execute("DROP TRIGGER aud")


def test_after_delete_audit_old_rows(eng):
    """AFTER DELETE sees OLD.x (pre-image relation)."""
    eng.execute("CREATE TABLE graveyard (i INT, j INT)")
    eng.execute("INSERT INTO t1 VALUES (1, 2), (2, 3), (3, 4)")
    eng.execute(
        "CREATE TRIGGER grave AFTER DELETE ON t1 FOR EACH ROW "
        "INSERT INTO graveyard VALUES (OLD.i, OLD.j)"
    )
    eng.execute("DELETE FROM t1 WHERE i >= 2")
    rows = sorted(
        (r.i, r.j)
        for r in eng.execute("SELECT i, j FROM graveyard").collect()
    )
    assert rows == [(2, 3), (3, 4)]
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM t1"
    ).collect()[0].n == 1
    eng.execute("DROP TRIGGER grave")


def test_trigger_ddl_and_refusals(eng):
    eng.execute(
        "CREATE TRIGGER t_a BEFORE INSERT ON t1 FOR EACH ROW "
        "SET NEW.j = 1"
    )
    with pytest.raises(ValueError, match="already exists"):
        eng.execute(
            "CREATE TRIGGER t_a BEFORE INSERT ON t1 FOR EACH ROW "
            "SET NEW.j = 2"
        )
    # OR REPLACE + SHOW TRIGGERS
    eng.execute(
        "CREATE OR REPLACE TRIGGER t_a AFTER INSERT ON t1 "
        "FOR EACH ROW SET @x = 1"
    )
    shown = eng.execute("SHOW TRIGGERS")
    assert ("t_a", "INSERT", "t1", "AFTER") in shown
    eng.execute("DROP TRIGGER t_a")
    with pytest.raises(ValueError, match="unknown trigger"):
        eng.execute("DROP TRIGGER t_a")
    eng.execute("DROP TRIGGER IF EXISTS t_a")  # no error
    # refusals: NEW in BEFORE DELETE, loops, unknown column,
    # non-SET stmt in a BEFORE row-transform body
    with pytest.raises(ValueError, match="BEFORE DELETE.*NEW"):
        eng.execute(
            "CREATE TRIGGER bad1 BEFORE DELETE ON t1 FOR EACH ROW "
            "SET NEW.j = 1"
        )
    with pytest.raises(ValueError, match="loops"):
        eng.execute(
            "CREATE TRIGGER bad2 BEFORE INSERT ON t1 FOR EACH ROW "
            "BEGIN WHILE 1 = 1 DO SET NEW.j = 1; END WHILE; END"
        )
    with pytest.raises(ValueError, match="unknown column"):
        eng.execute(
            "CREATE TRIGGER bad3 BEFORE INSERT ON t1 FOR EACH ROW "
            "SET NEW.nope = 1"
        )
    with pytest.raises(ValueError, match="SET NEW"):
        eng.execute(
            "CREATE TRIGGER bad4 BEFORE INSERT ON t1 FOR EACH ROW "
            "INSERT INTO t1 VALUES (1, 1)"
        )


def test_insert_into_view_refused(eng):
    """mcs26_insert_into_view.test parity: the reference refuses DML
    through views (MCS-1011 / ER 1393 for join views); so do we, with
    the view named in the error."""
    eng.execute("INSERT INTO t1 VALUES (1, 2)")
    eng.execute("CREATE VIEW v_t1 AS SELECT i AS a, j AS b FROM t1")
    with pytest.raises(ValueError, match="view.*not supported|MCS-1011"):
        eng.execute("INSERT INTO v_t1 (a, b) VALUES (9, 9)")
    with pytest.raises(ValueError, match="view.*not supported|MCS-1011"):
        eng.execute("UPDATE v_t1 SET b = 1")
    eng.execute("DROP VIEW v_t1")


def test_information_schema_dotted_spelling(eng):
    """i_s.test parity: the MTR's dotted INFORMATION_SCHEMA.
    COLUMNSTORE_TABLES / _COLUMNS spellings resolve (dialect rewrite
    to the engine's i_s views, auto-refreshed so new tables appear)."""
    rows = eng.execute(
        "SELECT table_name FROM INFORMATION_SCHEMA.COLUMNSTORE_TABLES"
        " WHERE table_name = 't1'"
    ).collect()
    assert len(rows) == 1
    cols = eng.execute(
        "SELECT column_name FROM INFORMATION_SCHEMA.COLUMNSTORE_COLUMNS"
        " WHERE table_name = 't1' ORDER BY ordinal_position"
    ).collect()
    assert [c.column_name for c in cols] == ["i", "j"]
    # auto-refresh: a table created AFTER the last refresh is visible
    eng.execute("CREATE TABLE late_t (x INT)")
    n = eng.execute(
        "SELECT COUNT(*) AS n FROM INFORMATION_SCHEMA.COLUMNSTORE_TABLES"
        " WHERE table_name = 'late_t'"
    ).collect()[0].n
    assert n == 1


def test_before_insert_with_string_masking(eng):
    """'NEW.j' inside a string literal must NOT rewrite; conditions
    referencing string columns work."""
    eng.execute("CREATE TABLE s1 (i INT, tag VARCHAR(20))")
    eng.execute(
        "CREATE TRIGGER strg BEFORE INSERT ON s1 FOR EACH ROW "
        "BEGIN "
        "IF NEW.tag = 'x' THEN SET NEW.tag = 'NEW.j literal'; END IF; "
        "END"
    )
    eng.execute("INSERT INTO s1 VALUES (1, 'x'), (2, 'y')")
    rows = sorted(
        (r.i, r.tag)
        for r in eng.execute("SELECT i, tag FROM s1").collect()
    )
    assert rows == [(1, "NEW.j literal"), (2, "y")]
    eng.execute("DROP TRIGGER strg")


def test_before_delete_audit_sees_predelete_state(eng):
    """BEFORE DELETE (round-7): audit-style bodies fire over the OLD
    relation BEFORE the copy-on-write removes the rows — a body
    statement counting the target table sees pre-delete state (the
    observable difference from AFTER DELETE)."""
    eng.execute("CREATE TABLE pre_audit (i INT, j INT, total INT)")
    eng.execute("INSERT INTO t1 VALUES (1, 2), (2, 3), (3, 4)")
    eng.execute(
        "CREATE TRIGGER predel BEFORE DELETE ON t1 FOR EACH ROW "
        "INSERT INTO pre_audit "
        "SELECT OLD.i, OLD.j, (SELECT COUNT(*) FROM t1)"
    )
    eng.execute("DELETE FROM t1 WHERE i >= 2")
    rows = sorted(
        (r.i, r.j, r.total)
        for r in eng.execute(
            "SELECT i, j, total FROM pre_audit"
        ).collect()
    )
    # total = 3: the table still held all rows when the body ran
    assert rows == [(2, 3, 3), (3, 4, 3)]
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM t1"
    ).collect()[0].n == 1
    eng.execute("DROP TRIGGER predel")


def test_before_delete_existential_if(eng):
    """IF <cond over OLD> quantifies existentially, as in AFTER
    bodies; no doomed rows -> body never fires."""
    eng.execute("INSERT INTO t1 VALUES (1, 2), (5, 30)")
    eng.execute("SET @flag = 'No'")
    eng.execute(
        "CREATE TRIGGER predel2 BEFORE DELETE ON t1 FOR EACH ROW "
        "BEGIN IF OLD.j = 30 THEN SET @flag = 'Yes'; END IF; END"
    )
    eng.execute("DELETE FROM t1 WHERE i = 1")  # j=2: cond false
    assert eng.execute("SELECT @flag AS f").collect()[0].f == "No"
    eng.execute("DELETE FROM t1 WHERE i = 5")  # j=30: fires
    assert eng.execute("SELECT @flag AS f").collect()[0].f == "Yes"
    eng.execute("DROP TRIGGER predel2")


def test_after_insert_case_body_runs(eng):
    """A procedural CASE in an AFTER body runs, existential like IF."""
    eng.execute("CREATE TABLE audit (v INT)")
    eng.execute(
        "CREATE TRIGGER tc AFTER INSERT ON t1 FOR EACH ROW BEGIN "
        "CASE WHEN NEW.j > 0 THEN INSERT INTO audit VALUES (NEW.j); "
        "ELSE INSERT INTO audit VALUES (-1); END CASE; END"
    )
    eng.execute("INSERT INTO t1 VALUES (1, 5)")
    eng.execute("INSERT INTO t1 VALUES (2, -3)")
    got = sorted(r.v for r in eng.execute("SELECT v FROM audit").collect())
    assert got == [-1, 5]


def test_after_insert_signal_raises_from_the_insert(eng):
    from mariadb_columnstore_engine_spark.procedures import SqlSignal

    eng.execute(
        "CREATE TRIGGER ts AFTER INSERT ON t1 FOR EACH ROW "
        "SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'no'"
    )
    with pytest.raises(SqlSignal, match="45000.*no") as ei:
        eng.execute("INSERT INTO t1 VALUES (1, 5)")
    assert ei.value.errno == 1644


def test_after_insert_declare_binds_a_local(eng):
    eng.execute("CREATE TABLE audit (v INT)")
    eng.execute(
        "CREATE TRIGGER td AFTER INSERT ON t1 FOR EACH ROW BEGIN "
        "DECLARE v INT DEFAULT 7; INSERT INTO audit VALUES (v); END"
    )
    eng.execute("INSERT INTO t1 VALUES (1, 5)")
    assert [r.v for r in eng.execute("SELECT v FROM audit").collect()] == [7]


def test_loops_and_cursors_refused_anywhere_in_a_trigger_body(eng):
    """The accepted node kinds are checked over the whole tree: a loop
    inside a CASE or a cursor inside a handler is refused at CREATE,
    as it is at top level."""
    with pytest.raises(ValueError, match="loops in trigger"):
        eng.execute(
            "CREATE TRIGGER tl AFTER INSERT ON t1 FOR EACH ROW BEGIN "
            "CASE WHEN NEW.j > 0 THEN "
            "WHILE 1 = 0 DO SET @x = 1; END WHILE; END CASE; END"
        )
    with pytest.raises(ValueError, match="cursors in trigger"):
        eng.execute(
            "CREATE TRIGGER tk AFTER INSERT ON t1 FOR EACH ROW BEGIN "
            "DECLARE c CURSOR FOR SELECT 1; "
            "DECLARE CONTINUE HANDLER FOR SQLEXCEPTION BEGIN OPEN c; END; "
            "SET @x = 1; END"
        )
    assert eng.execute("SHOW TRIGGERS") == []
