"""Engine.execute statement router: SQL DML/DDL end-to-end.

Reference analogue: DML/DDL arrive as SQL and route to DMLProc/DDLProc
packages (dbcon/dmlpackage/dml.y, SURVEY §3 entry point 3). Tests pin the
router's shape detection (masked parsing) and the copy-on-write effects
on an attached user table.
"""

from __future__ import annotations

import pytest

from mariadb_columnstore_engine_spark import statements as st


# --- parser shape detection -------------------------------------------------

def test_parse_update_with_nested_commas_and_where():
    p = st.parse(
        "UPDATE `t1` SET a = greatest(b, 2), note = 'x, WHERE y' "
        "WHERE id IN (1, 2) AND note <> 'WHERE'"
    )
    assert isinstance(p, st.Update)
    assert p.table == "t1"
    assert p.assignments == {
        "a": "greatest(b, 2)",
        "note": "'x, WHERE y'",
    }
    assert p.where == "id IN (1, 2) AND note <> 'WHERE'"


def test_parse_delete_and_insert_forms():
    d = st.parse("DELETE FROM t1")
    assert isinstance(d, st.Delete) and d.where is None
    i = st.parse("INSERT INTO t1 (id, val) VALUES (1, 'a'), (2, 'b;c')")
    assert isinstance(i, st.Insert)
    assert i.columns == ["id", "val"] and not i.replace
    assert i.source_sql.startswith("VALUES")
    r = st.parse("REPLACE INTO t1 SELECT * FROM t2;")
    assert isinstance(r, st.Insert) and r.replace and r.columns == []


def test_parse_rejects_unsupported():
    with pytest.raises(ValueError, match="unsupported statement"):
        st.parse("HANDLER t1 OPEN")
    # account management now parses as a documented no-op (mcs18/mcs19)
    p = st.parse("GRANT SELECT ON t1 TO someone")
    assert p.kind == "auth_noop" and p.arg == "GRANT"


# --- one router: parse classifies every statement --------------------------

@pytest.mark.parametrize(
    "sql, kind, fields",
    [
        ("PREPARE s FROM 'SELECT ?'", "prepare",
         {"name": "s", "text": "SELECT ?", "var": None}),
        ("PREPARE s FROM @src", "prepare", {"name": "s", "var": "src"}),
        ("EXECUTE s USING @a, @b", "execute_prepared",
         {"name": "s", "using": ["a", "b"]}),
        ("DEALLOCATE PREPARE s", "deallocate", {"arg": "s"}),
        ("SET @x = @x + 1", "set_user_var", {"name": "x", "expr": "@x + 1"}),
        ("SELECT a INTO @x FROM t1", "select_into_vars",
         {"select_sql": "SELECT a FROM t1", "names": ["x"]}),
        ("ANALYZE TABLE t1, `t2`", "analyze_table",
         {"tables": ["t1", "t2"]}),
        ("CHECK TABLE t1", "check_table", {"tables": ["t1"]}),
        ("OPTIMIZE TABLE t1", "optimize_table", {"tables": ["t1"]}),
        ("REPAIR TABLE t1", "repair_table", {"tables": ["t1"]}),
        ("CHECKSUM TABLE t1, t2", "checksum_table",
         {"tables": ["t1", "t2"]}),
        ("FLUSH TABLES", "flush_tables", {}),
        ("SHOW WARNINGS", "show_warnings", {}),
        ("SHOW TABLE STATUS", "show_table_status", {}),
        ("SELECT calgetversion()", "session_fn", {"arg": "calgetversion"}),
        ("SELECT DATABASE()", "session_fn", {"arg": "database"}),
        ("SELECT USER()", "session_fn", {"arg": "user"}),
        ("SELECT LAST_INSERT_ID()", "session_fn", {"arg": "last_insert_id"}),
        ("SELECT calsettrace(1)", "calsettrace", {"arg": "1"}),
        ("SELECT calshowpartitions('t1', 'c')", "cal_partitions",
         {"verb": "show", "table": "t1", "arg": "c"}),
        ("CREATE PROCEDURE p(IN a INT, OUT b BIGINT) BEGIN SELECT a INTO b; "
         "END", "create_procedure",
         {"name": "p", "params": [("IN", "a", "int"), ("OUT", "b", "bigint")],
          "body": "SELECT a INTO b;"}),
        ("DROP PROCEDURE IF EXISTS p", "drop_procedure_if_exists",
         {"arg": "p"}),
        ("SHOW PROCEDURE STATUS", "show_procedure_status", {}),
        ("CALL p(1, @out)", "call", {"name": "p", "args": ["1", "@out"]}),
        ("CREATE TRIGGER trg BEFORE INSERT ON t1 FOR EACH ROW "
         "SET NEW.a = 1", "create_trigger",
         {"name": "trg", "timing": "BEFORE", "event": "INSERT",
          "table": "t1", "body": "SET NEW.a = 1;"}),
        ("DROP TRIGGER trg", "drop_trigger", {"arg": "trg"}),
        ("SHOW TRIGGERS", "show_triggers", {}),
        ("SELECT n FROM t1 WHERE n > @lo", "user_var_refs",
         {"arg": "SELECT n FROM t1 WHERE n > @lo"}),
        # typed fields where the parse result used to pack strings
        ("EXPLAIN EXTENDED SELECT 1", "explain",
         {"mode": "extended", "sql": "SELECT 1"}),
        ("SET SESSION sql_mode = 'ORACLE'", "set_sysvar",
         {"name": "sql_mode", "value": "'ORACLE'"}),
        ("RENAME TABLE a TO b", "rename_table", {"old": "a", "new": "b"}),
        ("CREATE FUNCTION f(x INT) RETURNS INT RETURN x + 1",
         "create_function",
         {"name": "f", "params": "x int", "returns": "int", "body": "x + 1"}),
        ("ALTER TABLE t1 ADD PRIMARY KEY (a, b)", "add_primary_key",
         {"table": "t1", "columns": ["a", "b"]}),
        ("ALTER TABLE t1 DROP PARTITION (d = 'x,y', e = 2)", "alter",
         {"action": "drop_partition", "segments": ["d=x,y", "e=2"]}),
    ],
)
def test_parse_routes_every_form(sql, kind, fields):
    p = st.parse(sql)
    assert p.kind == kind
    assert {k: getattr(p, k) for k in fields} == fields


def test_every_kind_has_a_handler():
    from mariadb_columnstore_engine_spark import engine

    assert set(engine._HANDLERS) == st.KINDS


# --- execution --------------------------------------------------------------

@pytest.fixture()
def engine_with_table(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "t1")
    spark.range(0, 10).select(
        F.col("id"),
        (F.col("id") * 10).cast("double").alias("val"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit("n"), F.col("id")))
        .alias("note"),
    ).write.parquet(path)
    eng.attach_table("t1", path, keys=["id"])
    return eng


def test_insert_values_and_select(engine_with_table):
    eng = engine_with_table
    n = eng.execute("INSERT INTO t1 (id, val) VALUES (100, 1.5), (101, 2.5)")
    assert n == 12
    row = eng.execute(
        "SELECT val, note FROM t1 WHERE id = 100"
    ).collect()[0]
    assert row.val == 1.5 and row.note is None  # missing col -> NULL
    # INSERT .. SELECT
    assert eng.execute("INSERT INTO t1 SELECT id + 200, val, note FROM t1") == 24


def test_update_where(engine_with_table):
    eng = engine_with_table
    eng.execute("UPDATE t1 SET val = val + 1000 WHERE id >= 5")
    got = {
        r.id: r.val for r in eng.execute("SELECT id, val FROM t1").collect()
    }
    assert got[4] == 40.0 and got[5] == 1050.0


def test_delete_null_predicate_keeps_null_rows(engine_with_table):
    eng = engine_with_table
    # note = 'n1' is NULL for ids 0,3,6,9 — SQL DELETE must keep those
    n = eng.execute("DELETE FROM t1 WHERE note = 'n1'")
    assert n == 9
    ids = {r.id for r in eng.execute("SELECT id FROM t1").collect()}
    assert 1 not in ids and {0, 3, 6, 9} <= ids


def test_replace_into(engine_with_table):
    eng = engine_with_table
    n = eng.execute("REPLACE INTO t1 VALUES (3, 999.0, 'swapped')")
    assert n == 10  # delete-then-insert keeps the count
    row = eng.execute("SELECT * FROM t1 WHERE id = 3").collect()[0]
    assert row.val == 999.0 and row.note == "swapped"


def test_dml_on_fixture_table_rejected(engine_with_table):
    with pytest.raises(ValueError, match="read-only"):
        engine_with_table.execute("DELETE FROM nation WHERE n_nationkey = 0")


def test_view_and_describe_via_execute(engine_with_table):
    eng = engine_with_table
    eng.execute("CREATE VIEW big_vals AS SELECT id FROM t1 WHERE val > 50")
    assert eng.execute("SELECT count(*) AS n FROM big_vals").collect()[0].n == 4
    cols = dict(eng.execute("DESCRIBE t1"))
    assert cols == {"id": "bigint", "val": "double", "note": "string"}
    eng.execute("DROP VIEW big_vals")


def test_ctas_and_truncate(engine_with_table, tmp_path):
    eng = engine_with_table
    eng.warehouse = str(tmp_path / "wh")
    n = eng.execute(
        "CREATE TABLE evens AS SELECT id, val FROM t1 WHERE id % 2 = 0"
    )
    assert n == 5
    assert eng.execute("SELECT max(id) AS m FROM evens").collect()[0].m == 8
    assert eng.execute("TRUNCATE TABLE evens") == 0
    assert eng.execute("SELECT count(*) AS n FROM evens").collect()[0].n == 0
    # original untouched
    assert eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n == 10


def test_on_duplicate_key_update(engine_with_table):
    eng = engine_with_table
    n = eng.execute(
        "INSERT INTO t1 VALUES (3, 333.0, 'upserted'), (50, 500.0, 'new')"
        " ON DUPLICATE KEY UPDATE val = VALUES(val)"
    )
    assert n == 11  # one matched, one appended
    rows = {
        r.id: (r.val, r.note)
        for r in eng.execute("SELECT * FROM t1 WHERE id IN (3, 50)").collect()
    }
    # matched row: val updated, note SURVIVES (upsert, not replace)
    assert rows[3] == (333.0, None)
    assert rows[50] == (500.0, "new")


def test_on_duplicate_general_expr_parses():
    """General update expressions (dml.y update_expr): VALUES(x)
    references rewrite to the upsert join's _new_x columns; plain
    c = VALUES(c) stays the take-new-value fast path."""
    p = st.parse(
        "INSERT INTO t1 VALUES (1, 2)"
        " ON DUPLICATE KEY UPDATE val = val + VALUES(val),"
        " note = VALUES(note)"
    )
    assert p.on_dup_update == [("val", "val + _new_val"), "note"]
    # VALUES( inside a string literal must NOT rewrite (mask-aware)
    p2 = st.parse(
        "INSERT INTO t1 VALUES (1, 2)"
        " ON DUPLICATE KEY UPDATE note = CONCAT(note, 'VALUES(x)')"
    )
    assert p2.on_dup_update == [("note", "CONCAT(note, 'VALUES(x)')")]


def test_on_duplicate_general_expr_executes(engine_with_table):
    """c = c + VALUES(c) accumulates into the existing value; untouched
    columns survive; unmatched keys append with their inserted values
    (MariaDB ON DUPLICATE KEY UPDATE semantics, dml.y)."""
    eng = engine_with_table
    n = eng.execute(
        "INSERT INTO t1 VALUES (4, 1000.0, 'acc'), (60, 600.0, 'new')"
        " ON DUPLICATE KEY UPDATE val = val + VALUES(val),"
        " note = IFNULL(note, VALUES(note))"
    )
    assert n == 11
    rows = {
        r.id: (r.val, r.note)
        for r in eng.execute(
            "SELECT * FROM t1 WHERE id IN (4, 60)"
        ).collect()
    }
    # id=4 existed with val=40.0, note='n4': val accumulates, note kept
    assert rows[4] == (1040.0, "n4")
    assert rows[60] == (600.0, "new")
    # id=3 existed with note NULL (id%3==0): IFNULL takes the new note
    eng.execute(
        "INSERT INTO t1 VALUES (3, 5.0, 'filled')"
        " ON DUPLICATE KEY UPDATE val = val + VALUES(val),"
        " note = IFNULL(note, VALUES(note))"
    )
    r3 = eng.execute(
        "SELECT val, note FROM t1 WHERE id = 3"
    ).collect()[0]
    assert r3.val == 35.0 and r3.note == "filled"


def test_alter_table_add_drop_column(engine_with_table):
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD COLUMN flag INT DEFAULT 7")
    cols = dict(eng.execute("DESCRIBE t1"))
    assert cols["flag"] == "int"
    # pre-ALTER rows surface the default instantly (no rewrite)
    assert (
        eng.execute("SELECT count(*) AS n FROM t1 WHERE flag = 7")
        .collect()[0].n == 10
    )
    eng.execute("ALTER TABLE t1 DROP COLUMN flag")
    assert "flag" not in dict(eng.execute("DESCRIBE t1"))


def test_explain_and_show_tables(engine_with_table):
    eng = engine_with_table
    plan = eng.execute("EXPLAIN SELECT count(*) FROM t1 WHERE id > 3")
    assert "Physical Plan" in plan and "HashAggregate" in plan
    tables = eng.execute("SHOW TABLES")
    assert "t1" in tables and "lineitem" in tables


def test_insert_into_altered_column(engine_with_table):
    """INSERT naming an instant-ALTER-added column must keep its value."""
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD COLUMN flag INT DEFAULT 7")
    eng.execute("INSERT INTO t1 (id, val, flag) VALUES (60, 6.0, 99)")
    rows = {
        r.id: r.flag
        for r in eng.execute("SELECT id, flag FROM t1 WHERE id IN (0, 60)").collect()
    }
    assert rows[60] == 99  # explicit value survives
    assert rows[0] == 7  # pre-ALTER row still surfaces the default


def test_run_script_multi_statement(engine_with_table):
    eng = engine_with_table
    results = eng.run_script(
        "UPDATE t1 SET note = 'batch; one' WHERE id = 1;\n"
        "DELETE FROM t1 WHERE id = 2;\n"
        "SELECT count(*) AS n FROM t1;"
    )
    assert results[1] == 9  # post-delete row count
    assert results[2].collect()[0].n == 9
    note = (
        eng.execute("SELECT note FROM t1 WHERE id = 1").collect()[0].note
    )
    assert note == "batch; one"  # the literal semicolon didn't split


def test_run_script_select_row_cap_guard(engine_with_table):
    """A script SELECT bigger than the driver cap raises instead of
    collecting (the check reads cap+1 rows, never the full result);
    materialize=False is the lazy escape hatch for read-only scripts."""
    import pytest

    eng = engine_with_table
    old_cap = eng.script_select_row_cap
    eng.script_select_row_cap = 5
    try:
        with pytest.raises(ValueError, match="exceeds 5 rows"):
            eng.run_script("SELECT id FROM t1;")
        # under the cap: materialized as before
        [small] = eng.run_script("SELECT id FROM t1 WHERE id < 3;")
        assert small.count() == 3  # ids 0,1,2
        # escape hatch: lazy DataFrame of any size
        [lazy] = eng.run_script("SELECT id FROM t1;", materialize=False)
        assert lazy.count() > 5
    finally:
        eng.script_select_row_cap = old_cap


def test_show_columns_and_show_create(engine_with_table):
    eng = engine_with_table
    assert dict(eng.execute("SHOW COLUMNS FROM t1")) == {
        "id": "bigint", "val": "double", "note": "string",
    }
    ddl = eng.execute("SHOW CREATE TABLE t1")
    assert ddl.startswith("CREATE TABLE `t1` (")
    assert "`val` double" in ddl and ddl.rstrip().endswith("USING parquet")


def test_generated_column_via_alter(engine_with_table):
    eng = engine_with_table
    eng.execute(
        "ALTER TABLE t1 ADD COLUMN val_sq DOUBLE GENERATED ALWAYS AS (val * val)"
    )
    got = {
        r.id: r.val_sq
        for r in eng.execute("SELECT id, val_sq FROM t1 WHERE id < 3").collect()
    }
    assert got == {0: 0.0, 1: 100.0, 2: 400.0}
    # generated on INSERT too (not NULL-filled)
    eng.execute("INSERT INTO t1 (id, val) VALUES (70, 3.0)")
    row = eng.execute("SELECT val_sq FROM t1 WHERE id = 70").collect()[0]
    assert row.val_sq == 9.0
    # explicit insert into a generated column is rejected
    with pytest.raises(ValueError, match="generated"):
        eng.execute("INSERT INTO t1 (id, val, val_sq) VALUES (71, 1.0, 5.0)")


def test_check_constraint_enforced(engine_with_table):
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD CONSTRAINT val_nonneg CHECK (val >= 0)")
    # passing insert (NULL predicate passes, per SQL CHECK semantics)
    eng.execute("INSERT INTO t1 (id) VALUES (80)")
    with pytest.raises(ValueError, match="val_nonneg"):
        eng.execute("INSERT INTO t1 (id, val) VALUES (81, -5.0)")
    # UPDATE rejected BEFORE any rewrite
    with pytest.raises(ValueError, match="val_nonneg"):
        eng.execute("UPDATE t1 SET val = -1 WHERE id = 1")
    assert (
        eng.execute("SELECT val FROM t1 WHERE id = 1").collect()[0].val
        == 10.0
    )  # unchanged


def test_information_schema_views(engine_with_table):
    eng = engine_with_table
    eng.refresh_information_schema()
    kinds = {
        r.table_name: r.table_kind
        for r in eng.sql("SELECT * FROM information_schema_tables").collect()
    }
    assert kinds["t1"] == "user" and kinds["lineitem"] == "catalog"
    cols = eng.sql(
        "SELECT column_name, data_type FROM information_schema_columns"
        " WHERE table_name = 't1' ORDER BY ordinal_position"
    ).collect()
    assert [(c.column_name, c.data_type) for c in cols] == [
        ("id", "bigint"), ("val", "double"), ("note", "string"),
    ]


def test_insert_set_form(engine_with_table):
    eng = engine_with_table
    n = eng.execute("INSERT INTO t1 SET id = 90, note = 'set; form'")
    assert n == 11
    row = eng.execute("SELECT * FROM t1 WHERE id = 90").collect()[0]
    assert row.note == "set; form" and row.val is None


def test_delete_preserves_sidecar_after_instant_alter(engine_with_table):
    """DML must not consume the schema-evolution sidecar: after instant
    ALTER ADD COLUMN + ADD CONSTRAINT, a DELETE keeps the added column
    (with its values/default) in the logical schema and CHECKs stay
    enforced (copy-on-write swap used to drop _schema_evolution.json)."""
    from mariadb_columnstore_engine_spark.sources.ingest import table_checks

    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD COLUMN flag INT DEFAULT 7")
    eng.execute("ALTER TABLE t1 ADD CONSTRAINT val_nonneg CHECK (val >= 0)")
    eng.execute("INSERT INTO t1 (id, val, flag) VALUES (50, 5.0, 99)")
    eng.execute("DELETE FROM t1 WHERE id = 1")
    cols = dict(eng.execute("DESCRIBE t1"))
    assert "flag" in cols, "added column vanished after DELETE"
    rows = {
        r.id: r.flag
        for r in eng.execute(
            "SELECT id, flag FROM t1 WHERE id IN (0, 50)"
        ).collect()
    }
    assert rows == {0: 7, 50: 99}
    path = eng._writable("t1")["path"]
    assert table_checks(path), "CHECK constraints vanished after DELETE"
    with pytest.raises(ValueError, match="val_nonneg"):
        eng.execute("INSERT INTO t1 (id, val) VALUES (51, -5.0)")


def test_update_preserves_generated_and_recomputes(engine_with_table):
    """UPDATE after instant ALTER: generated columns survive the rewrite
    AND are recomputed from updated base values (MariaDB PERSISTENT
    computes on every write); assigning to one is rejected."""
    eng = engine_with_table
    eng.execute(
        "ALTER TABLE t1 ADD COLUMN val_sq DOUBLE GENERATED ALWAYS AS (val * val)"
    )
    eng.execute("UPDATE t1 SET val = 5.0 WHERE id = 1")
    row = eng.execute(
        "SELECT val, val_sq FROM t1 WHERE id = 1"
    ).collect()[0]
    assert (row.val, row.val_sq) == (5.0, 25.0)
    # still generated on later INSERTs (not NULL-filled)
    eng.execute("INSERT INTO t1 (id, val) VALUES (52, 4.0)")
    assert (
        eng.execute("SELECT val_sq FROM t1 WHERE id = 52").collect()[0].val_sq
        == 16.0
    )
    with pytest.raises(ValueError, match="generated"):
        eng.execute("UPDATE t1 SET val_sq = 0 WHERE id = 1")


def test_update_check_preview_sees_added_column(engine_with_table):
    """The pre-rewrite CHECK preview must resolve sidecar-added columns
    (it used to read the physical file schema and hit AnalysisException
    on any check/assignment naming an instant-ALTER column)."""
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD COLUMN flag INT DEFAULT 7")
    eng.execute("ALTER TABLE t1 ADD CONSTRAINT flag_pos CHECK (flag > 0)")
    # assignment + check both reference the added column: validates, runs
    n = eng.execute("UPDATE t1 SET flag = 8 WHERE id = 1")
    assert n == 10
    assert (
        eng.execute("SELECT flag FROM t1 WHERE id = 1").collect()[0].flag
        == 8
    )
    with pytest.raises(ValueError, match="flag_pos"):
        eng.execute("UPDATE t1 SET flag = -1 WHERE id = 2")


def test_insert_adjacent_column_list(engine_with_table):
    """MariaDB allows no space before the column list:
    INSERT INTO t1(id,val) VALUES ... — the table token must not
    swallow '(id,val)'."""
    eng = engine_with_table
    eng.execute("INSERT INTO t1(id, val) VALUES (95, 9.5)")
    row = eng.execute("SELECT id, val FROM t1 WHERE id = 95").collect()[0]
    assert (row.id, row.val) == (95, 9.5)


def test_transaction_rollback_restores_preimage(engine_with_table):
    """BEGIN .. ROLLBACK: multi-statement DML (UPDATE + DELETE + INSERT)
    fully reverts — data AND evolution sidecar (version-buffer rollback
    analogue, snapshot via hardlinked pre-images)."""
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD COLUMN flag INT DEFAULT 7")
    before = sorted(
        (r.id, r.val, r.flag)
        for r in eng.execute("SELECT id, val, flag FROM t1").collect()
    )
    eng.execute("BEGIN")
    eng.execute("UPDATE t1 SET val = -999 WHERE id < 5")
    eng.execute("DELETE FROM t1 WHERE id >= 8")
    eng.execute("INSERT INTO t1 (id, val) VALUES (100, 1.0)")
    eng.execute("ALTER TABLE t1 DROP COLUMN flag")
    assert eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n == 9
    eng.execute("ROLLBACK")
    after = sorted(
        (r.id, r.val, r.flag)
        for r in eng.execute("SELECT id, val, flag FROM t1").collect()
    )
    assert after == before  # flag column + all rows restored


def test_transaction_commit_keeps_changes(engine_with_table):
    eng = engine_with_table
    eng.execute("START TRANSACTION")
    eng.execute("UPDATE t1 SET val = 123.0 WHERE id = 1")
    eng.execute("COMMIT")
    assert (
        eng.execute("SELECT val FROM t1 WHERE id = 1").collect()[0].val
        == 123.0
    )
    # control statements are strict
    with pytest.raises(ValueError, match="no open transaction"):
        eng.execute("ROLLBACK")
    eng.execute("BEGIN")
    with pytest.raises(ValueError, match="already open"):
        eng.execute("BEGIN WORK")
    eng.execute("COMMIT")


def test_insert_returning(engine_with_table):
    """MariaDB 10.5 INSERT ... RETURNING: the inserted rows come back as
    a result set (expressions run through the dialect pass)."""
    eng = engine_with_table
    df = eng.execute(
        "INSERT INTO t1 (id, val) VALUES (400, 4.0), (401, 5.0) "
        "RETURNING id, val * 2 AS v2, CAST(id AS CHAR) AS id_s"
    )
    rows = sorted((r.id, r.v2, r.id_s) for r in df.collect())
    assert rows == [(400, 8.0, "400"), (401, 10.0, "401")]
    assert eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n == 12


def test_delete_returning(engine_with_table):
    """DELETE ... RETURNING projects exactly the removed rows (predicate
    strictly TRUE; NULL-predicate rows are kept AND not returned)."""
    eng = engine_with_table
    df = eng.execute(
        "DELETE FROM t1 WHERE id >= 8 RETURNING id, note"
    )
    assert sorted(r.id for r in df.collect()) == [8, 9]
    assert eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n == 8


def test_alter_drop_partition(spark, sf_dir, tmp_path):
    """ALTER TABLE .. DROP PARTITION (col = v): O(1) hive-directory
    removal (droppartition.cpp analogue) — surviving partitions are
    untouched, the dropped one is gone from reads."""
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "parted")
    spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("shard")
    ).write.partitionBy("shard").parquet(path)
    eng.attach_table("parted", path)
    eng.execute("ALTER TABLE parted DROP PARTITION (shard = 2)")
    shards = {
        r.shard for r in eng.execute("SELECT DISTINCT shard FROM parted").collect()
    }
    assert shards == {0, 1, 3}
    assert eng.execute("SELECT count(*) AS n FROM parted").collect()[0].n == 75
    with pytest.raises(ValueError, match="does not exist"):
        eng.execute("ALTER TABLE parted DROP PARTITION (shard = 9)")


@pytest.fixture()
def engine_wh(spark, sf_dir, tmp_path):
    from mariadb_columnstore_engine_spark.engine import Engine

    return Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))


def test_create_table_column_defs(engine_wh, tmp_path):
    """CREATE TABLE with a declared schema (ddl.y → createtable.cpp):
    types map per SURVEY §1.2 (unsigned widens, UBIGINT→DECIMAL(20,0)),
    DEFAULTs apply to omitted INSERT columns, NOT NULL and CHECK are
    enforced, PRIMARY KEY wires REPLACE INTO."""
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute(
        "CREATE TABLE acct ("
        " id BIGINT NOT NULL,"
        " qty INT UNSIGNED,"
        " big_u BIGINT UNSIGNED,"
        " bal DECIMAL(12,2) DEFAULT 0.5,"
        " tag VARCHAR(20) DEFAULT 'none',"
        " created DATETIME,"
        " PRIMARY KEY (id),"
        " CONSTRAINT bal_floor CHECK (bal >= -100)"
        ") ENGINE=ColumnStore"
    )
    cols = dict(eng.execute("DESCRIBE acct"))
    assert cols["qty"] == "bigint"  # INT UNSIGNED widens
    assert cols["big_u"] == "decimal(20,0)"  # u64 carriage
    assert cols["bal"] == "decimal(12,2)"
    assert cols["created"] == "timestamp"
    # defaults on omitted columns
    eng.execute("INSERT INTO acct (id, qty) VALUES (1, 5)")
    row = eng.execute("SELECT * FROM acct").collect()[0]
    assert (float(row.bal), row.tag) == (0.5, "none")
    # NOT NULL enforced (id omitted → NULL → rejected)
    with pytest.raises(ValueError, match="id_not_null"):
        eng.execute("INSERT INTO acct (qty) VALUES (2)")
    # declared CHECK enforced
    with pytest.raises(ValueError, match="bal_floor"):
        eng.execute("INSERT INTO acct (id, bal) VALUES (2, -500)")
    # PRIMARY KEY powers REPLACE INTO
    eng.execute("REPLACE INTO acct (id, qty, tag) VALUES (1, 9, 'r')")
    rows = eng.execute("SELECT id, qty, tag FROM acct").collect()
    assert [(r.id, r.qty, r.tag) for r in rows] == [(1, 9, "r")]
    # defaults survive a DML rewrite (sidecar passthrough)
    eng.execute("DELETE FROM acct WHERE id = 999")
    eng.execute("INSERT INTO acct (id) VALUES (3)")
    tag3 = eng.execute("SELECT tag FROM acct WHERE id = 3").collect()[0].tag
    assert tag3 == "none"


def test_create_table_rejects_unsupported(engine_wh, tmp_path):
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    with pytest.raises(ValueError, match="AUTO_INCREMENT"):
        # autoinc must be an integer type (writeengine DDL rule)
        eng.execute(
            "CREATE TABLE t (id VARCHAR(10) AUTO_INCREMENT, v INT)"
        )
    with pytest.raises(ValueError, match="one AUTO_INCREMENT"):
        eng.execute(
            "CREATE TABLE t (a INT AUTO_INCREMENT, b INT AUTO_INCREMENT)"
        )
    with pytest.raises(ValueError, match="unsupported column type"):
        eng.execute("CREATE TABLE t (id GEOMETRY)")


def test_dml_where_with_subquery_predicates(engine_with_table):
    """MariaDB DML with subquery predicates (jlf_subquery.cpp shapes in
    a DML WHERE): IN (SELECT ..) and EXISTS both resolve against the
    registered catalog/user views inside the copy-on-write rewrite."""
    eng = engine_with_table
    # region keys are 0..4 → deletes ids 0..4
    n = eng.execute(
        "DELETE FROM t1 WHERE id IN (SELECT r_regionkey FROM region)"
    )
    assert n == 5
    remaining = sorted(
        r.id for r in eng.execute("SELECT id FROM t1").collect()
    )
    assert remaining == [5, 6, 7, 8, 9]
    # correlated EXISTS over a catalog table
    eng.execute(
        "UPDATE t1 SET note = 'has-nation' WHERE EXISTS "
        "(SELECT 1 FROM nation WHERE n_nationkey = t1.id)"
    )
    notes = {
        r.id: r.note for r in eng.execute("SELECT id, note FROM t1").collect()
    }
    assert all(v == "has-nation" for v in notes.values())  # ids 5..9 < 25


def test_drop_and_rename_table(engine_wh, tmp_path):
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute("CREATE TABLE tmp1 (id BIGINT, v DOUBLE)")
    eng.execute("INSERT INTO tmp1 (id, v) VALUES (1, 1.5)")
    # metadata-only rename keeps data
    eng.execute("RENAME TABLE tmp1 TO tmp2")
    assert eng.execute("SELECT count(*) AS n FROM tmp2").collect()[0].n == 1
    with pytest.raises(Exception):
        eng.execute("SELECT * FROM tmp1").collect()
    # drop removes data + registration; IF EXISTS is silent
    path = eng._writable("tmp2")["path"]
    eng.execute("DROP TABLE tmp2")
    assert not os.path.exists(path)
    eng.execute("DROP TABLE IF EXISTS tmp2")
    with pytest.raises(ValueError, match="not an attached"):
        eng.execute("DROP TABLE tmp2")
    # fixture tables are protected
    with pytest.raises(ValueError, match="not an attached"):
        eng.execute("DROP TABLE lineitem")


def test_rename_blocked_in_transaction(engine_with_table):
    eng = engine_with_table
    eng.execute("BEGIN")
    try:
        with pytest.raises(ValueError, match="RENAME TABLE inside"):
            eng.execute("RENAME TABLE t1 TO t9")
    finally:
        eng.execute("ROLLBACK")


def test_alter_default_survives_dml_rewrite(engine_with_table):
    """An ALTER-ADD default keeps applying to FUTURE inserts after the
    column is materialized by a DML rewrite (the default is column
    metadata, not backfill)."""
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD COLUMN flag INT DEFAULT 7")
    eng.execute("DELETE FROM t1 WHERE id = 0")  # materializes + consumes 'added'
    eng.execute("INSERT INTO t1 (id, val) VALUES (101, 1.0)")
    assert (
        eng.execute("SELECT flag FROM t1 WHERE id = 101").collect()[0].flag
        == 7
    )


def test_create_table_cannot_shadow_fixture(engine_wh, tmp_path):
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    with pytest.raises(ValueError, match="already exists|fixture"):
        eng.execute("CREATE TABLE region (id BIGINT)")
    with pytest.raises(ValueError, match="already exists|fixture"):
        eng.execute("CREATE TABLE nation AS SELECT 1 AS x")
    # the fixture view still answers correctly
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == 5


def test_insert_set_returning(engine_with_table):
    eng = engine_with_table
    df = eng.execute(
        "INSERT INTO t1 SET id = 500, val = 5.0 RETURNING id, val * 2 AS v2"
    )
    assert [(r.id, r.v2) for r in df.collect()] == [(500, 10.0)]


def test_drop_partition_quoted_value_with_comma(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    path = str(tmp_path / "parted2")
    spark.range(0, 20).select(
        F.col("id"),
        F.when(F.col("id") < 10, "a,b").otherwise("plain").alias("seg"),
    ).write.partitionBy("seg").parquet(path)
    eng.attach_table("parted2", path)
    eng.execute("ALTER TABLE parted2 DROP PARTITION (seg = 'a,b')")
    segs = {
        r.seg for r in eng.execute("SELECT DISTINCT seg FROM parted2").collect()
    }
    assert segs == {"plain"}


def test_analyze_select_returns_runtime_metrics(engine_with_table):
    """MariaDB ANALYZE SELECT: executes and returns the plan with actual
    runtime metrics (r_rows analogue: output-row counts per operator)."""
    eng = engine_with_table
    out = eng.execute(
        "ANALYZE SELECT count(*) AS n FROM t1 WHERE id > 3"
    )
    assert "HashAggregate" in out
    assert "== Runtime metrics ==" in out
    assert "number of output rows=" in out or "numOutputRows=" in out


def test_information_schema_extents(engine_with_table):
    eng = engine_with_table
    eng.refresh_information_schema()
    rows = eng.sql(
        "SELECT min_value, max_value, num_rows FROM "
        "information_schema_extents WHERE table_name = 'region' "
        "AND column_name = 'r_regionkey'"
    ).collect()
    assert rows and rows[0].num_rows == 5
    assert (rows[0].min_value, rows[0].max_value) == ("0", "4")


def test_load_data_infile_and_into_outfile(engine_with_table, tmp_path):
    """Round trip: SELECT INTO OUTFILE exports one delimited file;
    LOAD DATA INFILE bulk-appends it back (cpimport/LDI SQL spelling),
    computing generated columns and enforcing CHECKs like INSERT."""
    import os

    eng = engine_with_table
    out = str(tmp_path / "export.tsv")
    n = eng.execute(
        f"SELECT id + 1000 AS id, val, note FROM t1 WHERE id < 3 "
        f"INTO OUTFILE '{out}' FIELDS TERMINATED BY '|'"
    )
    assert n == 3 and os.path.exists(out)
    with open(out) as fh:
        exported_ids = {ln.split("|")[0] for ln in fh if ln.strip()}
    assert exported_ids == {"1000", "1001", "1002"}
    # refuses to overwrite, as MariaDB does
    with pytest.raises(ValueError, match="already exists"):
        eng.execute(f"SELECT 1 INTO OUTFILE '{out}'")
    # load it back
    total = eng.execute(
        f"LOAD DATA INFILE '{out}' INTO TABLE t1 "
        "FIELDS TERMINATED BY '|'"
    )
    assert total == 13
    ids = {
        r.id for r in eng.execute(
            "SELECT id FROM t1 WHERE id >= 1000"
        ).collect()
    }
    assert ids == {1000, 1001, 1002}


def test_load_data_infile_respects_checks(engine_with_table, tmp_path):
    eng = engine_with_table
    eng.execute("ALTER TABLE t1 ADD CONSTRAINT val_pos CHECK (val >= 0)")
    bad = str(tmp_path / "bad.tsv")
    with open(bad, "w") as fh:
        fh.write("900\t-5.0\tx\n")
    with pytest.raises(ValueError, match="val_pos"):
        eng.execute(f"LOAD DATA INFILE '{bad}' INTO TABLE t1")
    assert (
        eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n == 10
    )  # nothing appended


def test_new_statement_keywords_inert_inside_literals(engine_with_table):
    """RETURNING / INTO OUTFILE / LOAD DATA / WITH ROLLUP as literal TEXT
    must never trigger their statement forms (mask-aware parsing)."""
    eng = engine_with_table
    eng.execute(
        "INSERT INTO t1 (id, note) VALUES "
        "(600, 'x RETURNING y INTO OUTFILE z')"
    )
    note = eng.execute(
        "SELECT note FROM t1 WHERE id = 600"
    ).collect()[0].note
    assert note == "x RETURNING y INTO OUTFILE z"
    eng.execute(
        "UPDATE t1 SET note = 'LOAD DATA INFILE q GROUP BY a WITH ROLLUP' "
        "WHERE id = 600"
    )
    note = eng.execute(
        "SELECT note FROM t1 WHERE id = 600"
    ).collect()[0].note
    assert note == "LOAD DATA INFILE q GROUP BY a WITH ROLLUP"
    df = eng.execute(
        "DELETE FROM t1 WHERE id = 600 RETURNING id, note"
    )
    assert df.collect()[0].note.startswith("LOAD DATA")


def test_create_or_replace_table(engine_wh, tmp_path):
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute("CREATE TABLE cor (id BIGINT, v DOUBLE)")
    eng.execute("INSERT INTO cor (id, v) VALUES (1, 1.0)")
    # replace swaps schema AND contents
    eng.execute("CREATE OR REPLACE TABLE cor AS SELECT 7 AS x, 'y' AS tag")
    rows = eng.execute("SELECT * FROM cor").collect()
    assert [(r.x, r.tag) for r in rows] == [(7, "y")]
    # plain CREATE still refuses to clobber
    with pytest.raises(ValueError, match="already exists"):
        eng.execute("CREATE TABLE cor (id BIGINT)")
    # OR REPLACE never touches fixtures
    with pytest.raises(ValueError, match="already exists|fixture"):
        eng.execute("CREATE OR REPLACE TABLE region AS SELECT 1 AS z")


def test_client_udfs_and_table_status(engine_with_table):
    """Client introspection UDFs (ha_mcs_client_udfs.cpp:260-960,
    basic/t/cal_named_udfs.test): calgetversion / mcssystemready /
    calsettrace→calgettrace/calgetstats, plus SHOW TABLE STATUS."""
    eng = engine_with_table
    v = eng.execute("SELECT calgetversion()")
    assert "mcs-spark" in v and "Spark" in v
    assert eng.execute("SELECT mcssystemready()") == 1
    # mcs207: 0 = writable (no degraded-PM read-only state here)
    assert eng.execute("SELECT mcsSystemReadOnly()") == 0
    # trace off → helpful message; on → formatted plan of the last query
    assert "calsettrace" in eng.execute("SELECT calgettrace()")
    assert eng.execute("SELECT calsettrace(1)") == 1
    eng.execute("SELECT count(*) AS n FROM t1").collect()
    trace = eng.execute("SELECT calgettrace()")
    assert "Physical Plan" in trace
    stats = eng.execute("SELECT calgetstats()")
    assert "plan nodes" in stats
    assert eng.execute("SELECT calsettrace(0)") == 0
    rows = eng.execute("SHOW TABLE STATUS")
    assert [r["name"] for r in rows] == ["t1"]
    assert rows[0]["data_length"] > 0 and rows[0]["files"] >= 1


def test_analyze_and_checksum_table(engine_with_table):
    """ANALYZE TABLE t1[, t2] (basic/t/analyze_table.test) and CHECKSUM
    TABLE: per-table status rows; checksum is deterministic, row-order
    independent, and changes when content changes."""
    eng = engine_with_table
    rows = eng.execute("ANALYZE TABLE t1, nation")
    assert [r[0] for r in rows] == ["t1", "nation"]
    assert all(r[-1] == "OK" for r in rows)
    bad = eng.execute("ANALYZE TABLE missing_tbl")
    assert bad[0][2] == "Error"
    [(_, ck1)] = eng.execute("CHECKSUM TABLE t1")
    [(_, ck1b)] = eng.execute("CHECKSUM TABLE t1")
    assert ck1 == ck1b and 0 <= ck1 < 2**32
    eng.execute("UPDATE t1 SET val = val + 1 WHERE id = 0")
    [(_, ck2)] = eng.execute("CHECKSUM TABLE t1")
    assert ck2 != ck1
    pair = eng.execute("CHECKSUM TABLE t1, nation")
    assert len(pair) == 2 and pair[1][0] == "nation"


def test_explain_variants(engine_with_table):
    eng = engine_with_table
    ext = eng.execute("EXPLAIN EXTENDED SELECT count(*) FROM t1")
    assert "Optimized Logical Plan" in ext and "Physical Plan" in ext
    fmt = eng.execute("EXPLAIN FORMAT=JSON SELECT count(*) FROM t1")
    assert "Physical Plan" in fmt  # documented deviation: text render
    # MariaDB `EXPLAIN t` == DESCRIBE t
    cols = dict(eng.execute("EXPLAIN t1"))
    assert cols["id"] == "bigint"


def test_index_ddl_accepted_and_pk_wires_keys(engine_wh, tmp_path):
    """mcs73_indexes_keys: index DDL accepted as a no-op (extent min/max
    is the index analogue); ALTER ADD PRIMARY KEY wires upsert keys."""
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute("CREATE TABLE it (a BIGINT, b VARCHAR(10))")
    eng.execute("CREATE INDEX idx1 ON it(a)")
    eng.execute("ALTER TABLE it ADD INDEX(a)")
    eng.execute("ALTER TABLE it ADD UNIQUE INDEX(a)")
    eng.execute("ALTER TABLE it ADD KEY(a)")
    eng.execute("INSERT INTO it (a, b) VALUES (1, 'x')")
    # no keys yet → REPLACE refused
    import pytest as _pt

    with _pt.raises(ValueError, match="keys"):
        eng.execute("REPLACE INTO it VALUES (1, 'y')")
    eng.execute("ALTER TABLE it ADD PRIMARY KEY(a)")
    eng.execute("REPLACE INTO it VALUES (1, 'y')")
    rows = {(r.a, r.b) for r in eng.execute("SELECT * FROM it").collect()}
    assert rows == {(1, "y")}


def test_ldi_rollback(engine_wh, tmp_path):
    """mcs7002_ldi_rollback: LOAD DATA INFILE inside a transaction is
    undone by ROLLBACK (the version-buffer bulk-load rollback path)."""
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute("CREATE TABLE ldi_t (a BIGINT, b VARCHAR(10))")
    eng.execute("INSERT INTO ldi_t (a, b) VALUES (1, 'keep')")
    csv = tmp_path / "in.csv"
    csv.write_text("2\tx\n3\ty\n")
    eng.execute("BEGIN")
    eng.execute(f"LOAD DATA INFILE '{csv}' INTO TABLE ldi_t")
    assert eng.execute("SELECT count(*) AS n FROM ldi_t").collect()[0].n == 3
    eng.execute("ROLLBACK")
    rows = [
        (r.a, r.b) for r in eng.execute("SELECT * FROM ldi_t").collect()
    ]
    assert rows == [(1, "keep")]
    # and COMMIT keeps a second load
    eng.execute("BEGIN")
    eng.execute(f"LOAD DATA INFILE '{csv}' INTO TABLE ldi_t")
    eng.execute("COMMIT")
    assert eng.execute("SELECT count(*) AS n FROM ldi_t").collect()[0].n == 3


def test_ldi_parquet_and_files_view(engine_wh, tmp_path):
    """mcol-5505 cpimport-parquet: LOAD DATA INFILE of a .parquet file
    (positional column map), plus the i_s files view."""
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute("CREATE TABLE pq_t (a BIGINT, b VARCHAR(10))")
    src = str(tmp_path / "in0.parquet")
    eng.spark.createDataFrame(
        [(1, "x"), (2, "y")], "c1 long, c2 string"
    ).coalesce(1).write.parquet(str(tmp_path / "pqdir"))
    import glob
    import shutil

    [part] = glob.glob(str(tmp_path / "pqdir" / "*.parquet"))
    shutil.copy(part, src)
    n = eng.execute(f"LOAD DATA INFILE '{src}' INTO TABLE pq_t")
    assert n == 2
    rows = {(r.a, r.b) for r in eng.execute("SELECT * FROM pq_t").collect()}
    assert rows == {(1, "x"), (2, "y")}
    eng.refresh_information_schema()
    fr = eng.execute(
        "SELECT * FROM information_schema_files WHERE table_name = 'pq_t'"
    ).collect()
    assert fr and all(r.status == "Enabled" and r.bytes > 0 for r in fr)


def test_databases_create_use_drop(engine_wh, tmp_path):
    """CREATE/DROP DATABASE + USE (every MTR script's preamble) and DO:
    databases are warehouse subdirectories; DROP DATABASE removes its
    tables; table names stay globally unique (documented limitation)."""
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng.execute("CREATE DATABASE db1")
    with pytest.raises(ValueError, match="already exists"):
        eng.execute("CREATE DATABASE db1")
    eng.execute("CREATE DATABASE IF NOT EXISTS db1")
    eng.execute("USE db1")
    eng.execute("CREATE TABLE dbt (a BIGINT)")
    eng.execute("INSERT INTO dbt (a) VALUES (1), (2)")
    assert eng.execute("SELECT count(*) AS n FROM dbt").collect()[0].n == 2
    # table materialized under the database directory
    assert "db1" in eng._writable("dbt")["path"]
    eng.execute("DO 1 + 1")
    eng.execute("DROP DATABASE db1")
    with pytest.raises(Exception):
        eng.execute("SELECT count(*) FROM dbt").collect()
    eng.execute("DROP DATABASE IF EXISTS db1")
    with pytest.raises(ValueError, match="does not exist"):
        eng.execute("DROP DATABASE db1")
    # back on default; a fresh script-style round trip works
    eng.execute("CREATE DATABASE db2")
    eng.execute("USE db2")
    eng.execute("CREATE TABLE dbt (a BIGINT)")
    eng.execute("DROP DATABASE db2")


def test_mtr_style_script_end_to_end(engine_wh, tmp_path):
    """A reference MTR script shape (mcs98/mcs82 style: database
    preamble, ENGINE=Columnstore DDL, moda, multi-table UPDATE,
    teardown) runs verbatim through run_script — the switching-user
    contract."""
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    results = eng.run_script(
        """
        CREATE DATABASE IF NOT EXISTS mcs98_db;
        USE mcs98_db;
        CREATE TABLE t1 (t TINYINT, i INT, d1 DECIMAL(5,2)) ENGINE=Columnstore;
        INSERT INTO t1 VALUES (NULL, -1000012898, 34.21),
                              (12, -1000012899, 34.21),
                              (12, -1000012898, 34.22),
                              (13, NULL, NULL),
                              (28, -2000012898, 134.22);
        SELECT moda(t) AS m FROM t1;
        CREATE TABLE t2 (t2_int INT, t2_char VARCHAR(20)) ENGINE=Columnstore;
        INSERT INTO t2 VALUES (12, 'x'), (28, 'y');
        UPDATE t1 JOIN t2 ON t1.t = t2.t2_int SET t1.i = 0;
        SELECT count(*) AS z FROM t1 WHERE i = 0;
        DROP DATABASE mcs98_db;
        """
    )
    # moda(t): counts 12→2, 13→1, 28→1 → 12
    assert results[4].collect()[0].m == 12.0
    # UPDATE JOIN hit the three t∈{12,28} rows
    assert results[8].collect()[0].z == 3


def test_show_databases_database_fn_and_lock_trailers(engine_wh, tmp_path):
    import os

    eng = engine_wh
    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    assert eng.execute("SELECT DATABASE()") == "default"
    eng.execute("CREATE DATABASE locks_db")
    eng.execute("USE locks_db")
    assert eng.execute("SELECT DATABASE()") == "locks_db"
    assert "locks_db" in eng.execute("SHOW DATABASES")
    eng.execute("CREATE TABLE lt (a BIGINT)")
    eng.execute("INSERT INTO lt (a) VALUES (1)")
    # FOR UPDATE / LOCK IN SHARE MODE stripped (no row locks here)
    assert (
        eng.execute("SELECT a FROM lt WHERE a = 1 FOR UPDATE")
        .collect()[0].a == 1
    )
    assert (
        eng.execute("SELECT a FROM lt LOCK IN SHARE MODE").collect()[0].a
        == 1
    )
    eng.execute("DROP DATABASE locks_db")


def test_wide_table_600_columns(engine_wh):
    """mcs230_wide_table_600columns: DDL/INSERT/projection/DML survive a
    600-column table (the reference caps at 4096 with dictionary
    overhead per string column; here the pressure point is Catalyst
    analysis and codegen width — projection must prune to the selected
    columns, not materialize all 600)."""
    eng = engine_wh
    cols = ", ".join(f"c{i} INT" for i in range(600))
    eng.execute(f"CREATE TABLE wide ({cols})")
    vals = ", ".join(str(i) for i in range(600))
    eng.execute(f"INSERT INTO wide VALUES ({vals})")
    eng.execute(
        "INSERT INTO wide (c0, c1, c599) VALUES (1000, 1001, 1599)"
    )
    df = eng.execute("SELECT c0, c299, c599 FROM wide")
    assert df.columns == ["c0", "c299", "c599"]
    rows = {r.c0: r for r in df.collect()}
    assert (rows[0].c299, rows[0].c599) == (299, 599)
    assert (rows[1000].c299, rows[1000].c599) == (None, 1599)
    # engine DML convention: returns the table's post-statement row count
    assert eng.execute("UPDATE wide SET c299 = -1 WHERE c0 = 1000") == 2
    got = eng.execute(
        "SELECT c299 FROM wide WHERE c0 = 1000"
    ).collect()[0]
    assert got.c299 == -1


def test_stored_sql_functions_define_call_drop(engine_wh):
    """mcs16_functions_define_call_drop: CREATE FUNCTION with a single
    RETURN expression becomes a Spark SQL UDF (inlined by Catalyst); the
    body runs through the MariaDB dialect pass; DROP removes it;
    procedural bodies are refused."""
    import pytest

    eng = engine_wh
    eng.execute(
        "CREATE FUNCTION add_tax (price DOUBLE, rate DOUBLE) "
        "RETURNS DOUBLE DETERMINISTIC RETURN price * (1 + rate)"
    )
    got = eng.execute("SELECT add_tax(100.0, 0.2) AS v").collect()[0]
    assert abs(got.v - 120.0) < 1e-9
    # dialect-translated body (TO_DAYS is MariaDB-only spelling)
    eng.execute(
        "CREATE FUNCTION order_day (d DATE) RETURNS BIGINT "
        "RETURN TO_DAYS(d)"
    )
    row = eng.execute(
        "SELECT order_day(DATE '2007-10-07') AS v"
    ).collect()[0]
    assert row.v == 733321
    # usable over tables, composed with other functions
    n = eng.execute(
        "SELECT count(*) AS n FROM orders "
        "WHERE add_tax(o_totalprice, 0.1) > o_totalprice"
    ).collect()[0].n
    assert n > 0
    eng.execute("DROP FUNCTION add_tax")
    with pytest.raises(Exception):
        eng.execute("SELECT add_tax(1.0, 1.0) AS v").collect()
    with pytest.raises(ValueError, match="unknown function"):
        eng.execute("DROP FUNCTION add_tax")
    eng.execute("DROP FUNCTION IF EXISTS add_tax")  # no error
    # mcs16 long form: a trivial BEGIN..END wrapping exactly one RETURN
    # is unwrapped and accepted
    eng.execute(
        "CREATE FUNCTION f2 (x INT) RETURNS INT "
        "BEGIN RETURN x + 1; END"
    )
    assert eng.execute("SELECT f2(41) AS v").collect()[0].v == 42
    eng.execute("DROP FUNCTION f2")
    # genuinely procedural bodies stay refused, not mistranslated
    with pytest.raises(ValueError, match="BEGIN"):
        eng.execute(
            "CREATE FUNCTION f3 (x INT) RETURNS INT "
            "BEGIN DECLARE y INT; RETURN x; END"
        )
    # parenthesized parameter types parse (paren-depth-aware scan)
    eng.execute(
        "CREATE FUNCTION disc (p DECIMAL(10,2), tag VARCHAR(20)) "
        "RETURNS DOUBLE RETURN p * 0.9"
    )
    assert abs(
        eng.execute("SELECT disc(10.0, 'x') AS v").collect()[0].v - 9.0
    ) < 1e-9
    eng.execute("DROP FUNCTION disc")
    # duplicate CREATE without OR REPLACE errors (ER_SP_ALREADY_EXISTS);
    # OR REPLACE and IF NOT EXISTS are accepted; a SECOND engine on the
    # same SparkSession can DROP (session-level bookkeeping)
    eng.execute("CREATE FUNCTION dup1 (x INT) RETURNS INT RETURN x")
    with pytest.raises(ValueError, match="already exists"):
        eng.execute("CREATE FUNCTION dup1 (x INT) RETURNS INT RETURN x")
    eng.execute(
        "CREATE OR REPLACE FUNCTION dup1 (x INT) RETURNS INT RETURN x*2"
    )
    assert eng.execute("SELECT dup1(3) AS v").collect()[0].v == 6
    eng.execute(
        "CREATE FUNCTION IF NOT EXISTS dup1 (x INT) RETURNS INT RETURN x"
    )  # no error, keeps the existing definition
    assert eng.execute("SELECT dup1(3) AS v").collect()[0].v == 6
    from mariadb_columnstore_engine_spark.engine import Engine

    eng2 = Engine(eng.spark, eng.catalog._sf_dir)
    eng2.execute("DROP FUNCTION dup1")
    with pytest.raises(ValueError, match="unknown function"):
        eng.execute("DROP FUNCTION dup1")


def test_stored_procedures_define_call_drop(engine_with_table):
    """mcs17_procedures_define_call_drop: CREATE PROCEDURE with a
    straight-line BEGIN..END body, OUT params bound to @variables at
    CALL (ER_SP_NOT_VAR_ARG otherwise), SELECT .. INTO <param> capture,
    duplicate/unknown errors, OR REPLACE, IN param literal
    substitution; control flow is refused at CREATE."""
    import pytest

    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE proc1 (OUT cnt INT) COMMENT 'c1' "
        "BEGIN SELECT COUNT(*) INTO cnt FROM t1; END"
    )
    eng.execute("CALL proc1(@cnt)")
    assert eng.execute("SELECT @cnt AS c").collect()[0].c == 10
    with pytest.raises(ValueError, match="ER_SP_NOT_VAR_ARG"):
        eng.execute("CALL proc1(1)")
    with pytest.raises(ValueError, match="ER_SP_WRONG_NO_OF_ARGS"):
        eng.execute("CALL proc1()")
    with pytest.raises(ValueError, match="already exists"):
        eng.execute(
            "CREATE PROCEDURE proc1 (OUT cnt INT) "
            "BEGIN SELECT 1 INTO cnt; END"
        )
    # OR REPLACE + IN parameter substituted as a typed literal
    eng.execute(
        "CREATE OR REPLACE PROCEDURE proc1 (IN k INT, OUT cnt INT) "
        "BEGIN SELECT COUNT(*) INTO cnt FROM t1 WHERE id < k; END"
    )
    eng.execute("CALL proc1(3, @cnt)")
    assert eng.execute("SELECT @cnt AS c").collect()[0].c == 3
    # IN argument may itself be a @variable
    eng.execute("SET @k = 5")
    eng.execute("CALL proc1(@k, @cnt)")
    assert eng.execute("SELECT @cnt AS c").collect()[0].c == 5
    eng.execute("DROP PROCEDURE proc1")
    with pytest.raises(ValueError, match="ER_SP_DOES_NOT_EXIST"):
        eng.execute("DROP PROCEDURE proc1")
    eng.execute("DROP PROCEDURE IF EXISTS proc1")  # no error
    # the full compound surface is interpreted since r8: SIGNAL
    # (test_procedure_signal_and_handlers) and labeled LOOP/LEAVE
    # (test_procedure_labeled_loops_and_case) both CREATE fine; only
    # UNDO handlers remain refused
    eng.execute(
        "CREATE PROCEDURE p3 () BEGIN "
        "SIGNAL SQLSTATE '45000'; END"
    )
    eng.execute("DROP PROCEDURE p3")
    eng.execute(
        "CREATE PROCEDURE p4 () BEGIN "
        "walk: LOOP LEAVE walk; END LOOP; END"
    )
    eng.execute("CALL p4()")  # leaves immediately — no-op
    eng.execute("DROP PROCEDURE p4")


def test_procedure_in_run_script_block_aware_split(engine_with_table):
    """split_script must not split on ';' inside BEGIN..END — MTR uses
    DELIMITER for this; the depth tracker makes it unnecessary."""
    eng = engine_with_table
    results = eng.run_script(
        "CREATE PROCEDURE p2 (IN d BIGINT) BEGIN "
        "SELECT count(*) + d AS n FROM t1; END;\n"
        "CALL p2(100);\n"
        "DROP PROCEDURE p2;"
    )
    assert results[1].collect()[0].n == 110
    # a transaction BEGIN is still its own statement
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        split_script,
    )

    assert split_script("BEGIN; SELECT 1; COMMIT;") == [
        "BEGIN", "SELECT 1", "COMMIT",
    ]
    assert split_script(
        "SELECT CASE WHEN a > 0 THEN 1 ELSE 0 END FROM t; SELECT 2"
    ) == ["SELECT CASE WHEN a > 0 THEN 1 ELSE 0 END FROM t", "SELECT 2"]


def test_auth_noops_and_insert_delayed(engine_with_table):
    """mcs18/mcs19 account management parses and no-ops with a SHOW
    WARNINGS note (single-user engine); mcs25 INSERT DELAYED is plain
    INSERT (MariaDB itself drops the queue on engines without it)."""
    eng = engine_with_table
    assert eng.execute("GRANT SELECT ON *.* TO 'u'@'%'") is None
    w = eng.execute("SHOW WARNINGS")
    assert w and w[0][0] == "Note" and "no-op" in w[0][2]
    assert eng.execute("REVOKE SELECT ON *.* FROM 'u'@'%'") is None
    assert eng.execute("CREATE USER 'u'@'h' IDENTIFIED BY 'x'") is None
    assert eng.execute("DROP USER 'u'@'h'") is None
    assert eng.execute("FLUSH PRIVILEGES") is None
    n0 = eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n
    eng.execute("INSERT DELAYED INTO t1 VALUES (77, 1.0, 'd')")
    n1 = eng.execute("SELECT count(*) AS n FROM t1").collect()[0].n
    assert n1 == n0 + 1


def test_set_compression_type_and_sysvars(engine_with_table, tmp_path):
    """mcs229_data_compression_type: SET columnstore_compression_type
    really changes the write codec (idbcompress.h codes: 0 none,
    1/2 snappy, 3 lz4); SHOW VARIABLES reflects it; SET NAMES is a
    UTF-8 no-op; behavior-changing sql_mode flags are refused."""
    import glob

    import pytest

    eng = engine_with_table
    eng.warehouse = str(tmp_path / "wh_cz")
    try:
        eng.execute("SET columnstore_compression_type=0")
        eng.execute("CREATE TABLE cz0 AS SELECT * FROM t1")
        f0 = glob.glob(eng.warehouse + "/cz0/*.parquet")[0]
        assert "snappy" not in f0 and "lz4" not in f0
        eng.execute("SET SESSION columnstore_compression_type=3")
        eng.execute("CREATE TABLE cz3 AS SELECT * FROM t1")
        f3 = glob.glob(eng.warehouse + "/cz3/*.parquet")[0]
        assert "lz4" in f3
        got = dict(eng.execute("SHOW VARIABLES LIKE 'columnstore%'"))
        assert got["columnstore_compression_type"] == "3"
        assert eng.execute("SET NAMES utf8mb4") is None
        # stored-only knob: accepted with a note
        eng.execute("SET columnstore_um_mem_limit=4096")
        assert any(
            "stored" in w[2] for w in eng.execute("SHOW WARNINGS")
        )
        with pytest.raises(ValueError, match="sql_mode"):
            eng.execute("SET sql_mode='ANSI_QUOTES'")
        with pytest.raises(ValueError, match="unsupported system"):
            eng.execute("SET totally_unknown_var=1")
    finally:
        # restore the session default codec for later tests
        eng.execute("SET columnstore_compression_type=2")


def test_create_table_column_collation(engine_wh):
    """Per-column COLLATE in CREATE TABLE (ddl.y column attributes →
    utils/common/collation.h; ctype_cmp_* MTR matrices): a declared-CI
    column groups, compares, and joins case-insensitively on every
    subsequent query — no per-query wrappers — while a _bin column on
    the same table stays case-sensitive."""
    eng = engine_wh
    eng.execute(
        "CREATE TABLE coll_t ("
        " id INT,"
        " seg VARCHAR(20) COLLATE utf8mb4_unicode_ci,"
        " tag VARCHAR(20) COLLATE utf8mb4_bin,"
        " plain VARCHAR(20))"
    )
    eng.execute(
        "INSERT INTO coll_t VALUES"
        " (1, 'Auto', 'Auto', 'Auto'), (2, 'AUTO', 'auto', 'AUTO'),"
        " (3, 'auto', 'AUTO', 'auto'), (4, 'Bike', 'Bike', 'Bike')"
    )
    # CI grouping collapses the case variants; _bin and undeclared stay
    rows = eng.execute(
        "SELECT count(*) AS n FROM coll_t GROUP BY seg ORDER BY n DESC"
    ).collect()
    assert [r.n for r in rows] == [3, 1]
    assert (
        eng.execute(
            "SELECT count(*) AS n FROM coll_t GROUP BY tag"
        ).count()
        == 4
    )
    assert (
        eng.execute(
            "SELECT count(*) AS n FROM coll_t GROUP BY plain"
        ).count()
        == 4
    )
    # CI equality + ORDER BY honor the declared collation
    assert eng.execute(
        "SELECT count(*) AS n FROM coll_t WHERE seg = 'AUTO'"
    ).collect()[0].n == 3
    assert eng.execute(
        "SELECT count(*) AS n FROM coll_t WHERE tag = 'AUTO'"
    ).collect()[0].n == 1
    # CI join key: joining the table to itself on seg matches all case
    # variants pairwise (3×3 for the auto class + 1 for bike)
    assert eng.execute(
        "SELECT count(*) AS n FROM coll_t a JOIN coll_t b"
        " ON a.seg = b.seg"
    ).collect()[0].n == 10
    eng.execute("DROP TABLE coll_t")


def test_create_table_table_level_collate_default(engine_wh):
    """Table-level COLLATE= option: the default for string columns that
    don't declare their own; non-string columns unaffected."""
    eng = engine_wh
    eng.execute(
        "CREATE TABLE coll_d (id INT, a VARCHAR(10),"
        " b VARCHAR(10) COLLATE utf8mb4_bin)"
        " ENGINE=Columnstore DEFAULT CHARSET=utf8mb4"
        " COLLATE=utf8mb4_general_ci"
    )
    eng.execute(
        "INSERT INTO coll_d VALUES (1,'X','X'), (2,'x','x')"
    )
    assert eng.execute(
        "SELECT count(*) AS n FROM coll_d WHERE a = 'x'"
    ).collect()[0].n == 2
    assert eng.execute(
        "SELECT count(*) AS n FROM coll_d WHERE b = 'x'"
    ).collect()[0].n == 1
    eng.execute("DROP TABLE coll_d")


def test_collate_on_non_string_column_refused(engine_wh):
    with pytest.raises(ValueError, match="non-string"):
        engine_wh.execute(
            "CREATE TABLE bad_c (n INT COLLATE utf8mb4_general_ci)"
        )
    with pytest.raises(ValueError, match="unknown collation"):
        engine_wh.execute(
            "CREATE TABLE bad_c (s VARCHAR(5) COLLATE utf8mb4_klingon_ci)"
        )


def test_procedure_if_then_else_control_flow(engine_with_table):
    """mcs17: IF <cond> THEN … [ELSEIF … THEN …] [ELSE …] END IF is
    interpreted (round-5 gap); only the taken branch executes, and the
    scalar IF(a,b,c) function — including spelled with a space before
    the paren — is no longer refused inside bodies."""
    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE pif (IN k INT, OUT tag VARCHAR(10)) BEGIN "
        "IF k > 100 THEN "
        "  SELECT 'big' INTO tag; "
        "ELSEIF k > 10 THEN "
        "  SELECT 'mid' INTO tag; "
        "ELSE "
        "  SELECT IF (k < 0, 'neg', 'small') INTO tag; "
        "END IF; "
        "END"
    )
    for k, want in ((500, "big"), (50, "mid"), (5, "small"), (-1, "neg")):
        eng.execute(f"CALL pif({k}, @tag)")
        assert eng.execute("SELECT @tag AS t").collect()[0].t == want
    eng.execute("DROP PROCEDURE pif")


def test_procedure_if_branch_side_effects_isolated(engine_with_table):
    """Only the taken IF branch runs: the ELSE branch's INSERT must not
    fire when the condition is true (interpretation, not speculative
    execution of both branches)."""
    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE pins (IN k INT) BEGIN "
        "IF k > 0 THEN "
        "  INSERT INTO t1 (id, val) VALUES (900, 1.0); "
        "ELSE "
        "  INSERT INTO t1 (id, val) VALUES (901, 2.0); "
        "END IF; "
        "END"
    )
    eng.execute("CALL pins(1)")
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM t1 WHERE id IN (900, 901)"
    ).collect()[0].n == 1
    eng.execute("DROP PROCEDURE pins")
    eng.execute("DELETE FROM t1 WHERE id = 900")


def test_procedure_while_loop_and_cap(engine_with_table):
    """WHILE <cond> DO … END WHILE over @session variables, plus the
    runaway-loop guard (hard iteration cap raises instead of hanging).
    Mirrors the MTR shape of a counter loop."""
    import pytest

    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE ploop (IN n INT, OUT total INT) BEGIN "
        "SET @i = 0; "
        "SET @acc = 0; "
        "WHILE @i < n DO "
        "  SET @acc = @acc + @i; "
        "  SET @i = @i + 1; "
        "END WHILE; "
        "SELECT @acc INTO total; "
        "END"
    )
    eng.execute("CALL ploop(5, @tot)")
    assert eng.execute("SELECT @tot AS t").collect()[0].t == 10
    # nested IF inside WHILE
    eng.execute(
        "CREATE PROCEDURE podd (IN n INT, OUT odds INT) BEGIN "
        "SET @i = 0; "
        "SET @odds = 0; "
        "WHILE @i < n DO "
        "  IF @i % 2 = 1 THEN SET @odds = @odds + 1; END IF; "
        "  SET @i = @i + 1; "
        "END WHILE; "
        "SELECT @odds INTO odds; "
        "END"
    )
    eng.execute("CALL podd(7, @o)")
    assert eng.execute("SELECT @o AS o").collect()[0].o == 3
    # runaway guard: condition never goes false. Instance-level cap
    # override keeps this fast — the guard logic is cap-value-agnostic,
    # and the default 10k cap would mean 10k interpreter round-trips.
    eng.execute(
        "CREATE PROCEDURE pinf () BEGIN "
        "SET @x = 1; "
        "WHILE @x > 0 DO SET @x = @x + 1; END WHILE; "
        "END"
    )
    eng._PROC_WHILE_CAP = 25
    try:
        with pytest.raises(ValueError, match="iterations"):
            eng.execute("CALL pinf()")
    finally:
        del eng._PROC_WHILE_CAP
    for p in ("ploop", "podd", "pinf"):
        eng.execute(f"DROP PROCEDURE {p}")


def test_procedure_unclosed_block_refused(engine_with_table):
    import pytest

    with pytest.raises(ValueError, match="END IF|not closed"):
        engine_with_table.execute(
            "CREATE PROCEDURE pbad () BEGIN "
            "IF 1 = 1 THEN SELECT 1; END"
        )


def test_procedure_declare_locals_and_set(engine_with_table):
    """DECLARE'd local variables (mcs17 / MariaDB compound statements):
    DEFAULT initialization, SET over locals, SELECT .. INTO <local>,
    local-over-column precedence via literal substitution, and OUT
    params reading as NULL before first assignment."""
    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE pdecl (IN k INT, OUT res DOUBLE) BEGIN "
        "DECLARE total DOUBLE DEFAULT 0; "
        "DECLARE cnt, extra INT DEFAULT 0; "
        "SELECT SUM(val) INTO total FROM t1 WHERE id <= k; "
        "SELECT COUNT(*) INTO cnt FROM t1 WHERE id <= k; "
        "SET extra = cnt * 2, @side = cnt; "
        "SET res = total + extra; "
        "END"
    )
    eng.execute("CALL pdecl(3, @r)")
    # t1 fixture: ids 0..9, val = id*10.0 → sum(id<=3) = 60, cnt = 4,
    # extra = 8, res = 68 (numeric — Decimal locals must render as
    # bare numeric literals, not quoted strings)
    got = eng.execute("SELECT @r AS r, @side AS s").collect()[0]
    assert float(got.r) == 68.0 and got.s == 4
    assert not isinstance(got.r, str)
    # uninitialized DECLARE (no DEFAULT) and unassigned OUT read as NULL
    eng.execute(
        "CREATE PROCEDURE pnull (OUT a INT) BEGIN "
        "DECLARE u INT; "
        "SELECT u IS NULL AND a IS NULL AS both_null; "
        "SET a = 7; "
        "END"
    )
    r = eng.execute("CALL pnull(@a)")
    assert r.collect()[0].both_null in (True, 1)
    assert eng.execute("SELECT @a AS a").collect()[0].a == 7
    # UNDO handlers stay refused (no statement-level undo log);
    # CONTINUE/EXIT handlers are interpreted since r8 —
    # test_procedure_signal_and_handlers
    import pytest

    with pytest.raises(ValueError, match="UNDO handlers"):
        eng.execute(
            "CREATE PROCEDURE pcur () BEGIN "
            "DECLARE UNDO HANDLER FOR SQLEXCEPTION SET @e = 1; "
            "END"
        )
    for p in ("pdecl", "pnull"):
        eng.execute(f"DROP PROCEDURE {p}")


def test_procedure_local_never_rebinds_bare_alias(engine_with_table):
    """A bare column alias (SELECT expr aliasname — no AS) or a
    qualified name that collides with a local/param must NOT be
    replaced by the local's literal value (r8 — ADVICE: the AS-only
    guard missed the bare-alias spelling)."""
    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE palias (IN v INT, OUT r BIGINT) BEGIN "
        # 'v' as a BARE alias twice and as a qualified column t.v
        # (fixture t1 has no column v — alias only), while 'v' in
        # expression positions (id + v, WHERE id < v) substitutes
        "SELECT SUM(x.v) INTO r FROM "
        "(SELECT id + v v FROM t1 WHERE id < v) x; "
        "END"
    )
    eng.execute("CALL palias(3, @r)")
    # ids 0,1,2 each +3 → 3+4+5 = 12
    assert eng.execute("SELECT @r AS r").collect()[0].r == 12
    eng.execute("DROP PROCEDURE palias")


def test_procedure_repeat_until_loop(engine_with_table):
    """REPEAT .. UNTIL .. END REPEAT: body-first execution (runs once
    even when the condition starts true), loop accumulation over
    locals, and the runaway cap."""
    import pytest

    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE prep (IN n INT, OUT total INT) BEGIN "
        "DECLARE i INT DEFAULT 0; "
        "DECLARE acc INT DEFAULT 0; "
        "REPEAT "
        "  SET acc = acc + i; "
        "  SET i = i + 1; "
        "UNTIL i >= n END REPEAT; "
        "SET total = acc; "
        "END"
    )
    eng.execute("CALL prep(5, @t)")
    assert eng.execute("SELECT @t AS t").collect()[0].t == 10
    # body-first: n=0 still executes once → total = 0, i ends at 1
    eng.execute(
        "CREATE PROCEDURE ponce (OUT runs INT) BEGIN "
        "DECLARE i INT DEFAULT 0; "
        "REPEAT SET i = i + 1; UNTIL 1 = 1 END REPEAT; "
        "SET runs = i; "
        "END"
    )
    eng.execute("CALL ponce(@n)")
    assert eng.execute("SELECT @n AS n").collect()[0].n == 1
    eng.execute(
        "CREATE PROCEDURE pinf2 () BEGIN "
        "DECLARE i INT DEFAULT 0; "
        "REPEAT SET i = i + 1; UNTIL 1 = 0 END REPEAT; "
        "END"
    )
    # instance-level cap override keeps the guard test fast; the guard
    # itself is cap-value-agnostic
    eng._PROC_WHILE_CAP = 25
    try:
        with pytest.raises(ValueError, match="iterations"):
            eng.execute("CALL pinf2()")
    finally:
        del eng._PROC_WHILE_CAP
    with pytest.raises(ValueError, match="UNTIL"):
        eng.execute(
            "CREATE PROCEDURE pbad2 () BEGIN "
            "REPEAT SELECT 1; END"
        )
    for p in ("prep", "ponce", "pinf2"):
        eng.execute(f"DROP PROCEDURE {p}")


def test_from_dual_and_order_limit_dml_refusals(engine_with_table):
    """FROM DUAL (MariaDB no-table SELECT) parses; UPDATE/DELETE with
    ORDER BY over a declared unique key + LIMIT are auto-rewritten to
    the key-predicate form (round-7); non-unique orderings stay refused
    with the distributed-determinism reason."""
    eng = engine_with_table
    assert eng.execute("SELECT 1 + 1 AS x FROM DUAL").collect()[0].x == 2
    # t1 declares keys=["id"]: ordered-LIMIT DML is deterministic
    eng.execute("UPDATE t1 SET val = -1 ORDER BY id LIMIT 1")
    assert eng.execute(
        "SELECT val FROM t1 WHERE id = 0"
    ).collect()[0].val == -1.0
    eng.execute("DELETE FROM t1 ORDER BY id DESC LIMIT 1")
    assert eng.execute(
        "SELECT max(id) AS m FROM t1"
    ).collect()[0].m == 8
    # non-unique ordering: refused with the reason
    with pytest.raises(ValueError, match="row-order-dependent"):
        eng.execute("UPDATE t1 SET val = 0 ORDER BY val LIMIT 1")
    # key-predicate spelling keeps working (deterministic)
    n = eng.execute(
        "DELETE FROM t1 WHERE id IN"
        " (SELECT id FROM t1 ORDER BY id DESC LIMIT 1)"
    )
    assert n == 8


def test_show_fields_and_index(engine_with_table):
    """SHOW FIELDS (alias of COLUMNS) and SHOW INDEX/KEYS (mcs11-ish
    admin surface): ColumnStore has no secondary indexes — the
    declared keys are the only entries."""
    eng = engine_with_table
    assert eng.execute("SHOW FIELDS FROM t1") == eng.execute(
        "SHOW COLUMNS FROM t1"
    )
    rows = eng.execute("SHOW INDEX FROM t1")
    assert rows == [("t1", 0, "PRIMARY", 1, "id")]
    assert eng.execute("SHOW KEYS FROM t1") == rows
    with pytest.raises(Exception, match="nope|NOT_FOUND"):
        eng.execute("SHOW INDEX FROM nope")


def test_procedure_read_only_cursor(engine_with_table):
    """Read-only cursors (r7 — mcs17's cursor shapes): DECLARE ..
    CURSOR FOR, OPEN (bounded driver-side materialization, evaluated
    at OPEN with params/locals substituted), FETCH [NEXT FROM] INTO
    locals, CLOSE, and the CONTINUE HANDLER FOR NOT FOUND idiom."""
    import pytest

    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE csum (IN lim INT, OUT total BIGINT) BEGIN "
        "DECLARE done INT DEFAULT 0; "
        "DECLARE v BIGINT; "
        "DECLARE acc BIGINT DEFAULT 0; "
        "DECLARE cur CURSOR FOR "
        "  SELECT id FROM t1 ORDER BY id LIMIT lim; "
        "DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1; "
        "OPEN cur; "
        "REPEAT "
        "  FETCH cur INTO v; "
        "  IF done = 0 THEN SET acc = acc + v; END IF; "
        "UNTIL done = 1 END REPEAT; "
        "CLOSE cur; "
        "SET total = acc; "
        "END"
    )
    eng.execute("CALL csum(4, @s)")
    assert eng.execute("SELECT @s AS s").collect()[0].s == 6  # 0+1+2+3
    eng.execute("CALL csum(100, @s)")  # cursor smaller than limit
    assert eng.execute("SELECT @s AS s").collect()[0].s == 45
    # multi-column FETCH + WHILE-flag loop + FETCH NEXT FROM spelling
    eng.execute(
        "CREATE PROCEDURE cpair (OUT tot DOUBLE) BEGIN "
        "DECLARE done INT DEFAULT 0; "
        "DECLARE i BIGINT; DECLARE x DOUBLE; "
        "DECLARE acc DOUBLE DEFAULT 0; "
        "DECLARE cur CURSOR FOR "
        "  SELECT id, val FROM t1 WHERE id < 3 ORDER BY id; "
        "DECLARE CONTINUE HANDLER FOR NOT FOUND SET done = 1; "
        "OPEN cur; "
        "WHILE done = 0 DO "
        "  FETCH NEXT FROM cur INTO i, x; "
        "  IF done = 0 THEN SET acc = acc + x * i; END IF; "
        "END WHILE; "
        "CLOSE cur; SET tot = acc; "
        "END"
    )
    eng.execute("CALL cpair(@t)")
    # 0*0 + 10*1 + 20*2 = 50
    assert eng.execute("SELECT @t AS t").collect()[0].t == 50.0
    # FETCH past end without a handler: MariaDB ER 1329
    eng.execute(
        "CREATE PROCEDURE cbad () BEGIN "
        "DECLARE v BIGINT; "
        "DECLARE cur CURSOR FOR SELECT id FROM t1 LIMIT 1; "
        "OPEN cur; FETCH cur INTO v; FETCH cur INTO v; "
        "END"
    )
    with pytest.raises(ValueError, match="1329|No data"):
        eng.execute("CALL cbad()")
    # FETCH from an unopened cursor / INTO an undeclared name
    eng.execute(
        "CREATE PROCEDURE cbad2 () BEGIN "
        "DECLARE v BIGINT; "
        "DECLARE cur CURSOR FOR SELECT id FROM t1; "
        "FETCH cur INTO v; "
        "END"
    )
    with pytest.raises(ValueError, match="not open"):
        eng.execute("CALL cbad2()")
    for p in ("csum", "cpair", "cbad", "cbad2"):
        eng.execute(f"DROP PROCEDURE {p}")


def test_cursor_open_prunes_to_fetch_columns(
    engine_with_table, monkeypatch
):
    """OPEN collects only the FETCH INTO column set (r8): the capped
    driver transfer must not ship a wide SELECT's unused columns. The
    DECLARED width is still what the ER-1328-style mismatch check
    sees."""
    import pytest

    eng = engine_with_table
    seen: list[list[str]] = []
    # patch the CONCRETE DataFrame class (Spark 4: pyspark.sql
    # .DataFrame is an abstract base whose collect is overridden)
    cls = type(eng.execute("SELECT 1 AS one"))
    orig = cls.collect

    def spy(self):
        seen.append(list(self.columns))
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    # all FETCHes take 1 target → only t1's first column ships even
    # though the cursor SELECT is 3 columns wide; the width mismatch
    # then errors with the DECLARED width (3), like MariaDB ER 1328
    eng.execute(
        "CREATE PROCEDURE cwide () BEGIN "
        "DECLARE v BIGINT; "
        "DECLARE cur CURSOR FOR "
        "  SELECT id, note, val FROM t1 ORDER BY id; "
        "OPEN cur; FETCH cur INTO v; "
        "END"
    )
    with pytest.raises(ValueError, match="expects 3 target"):
        eng.execute("CALL cwide()")
    assert ["id"] in seen  # the OPEN collect was pruned to 1 column
    assert ["id", "note", "val"] not in seen
    eng.execute("DROP PROCEDURE cwide")


def test_procedure_signal_and_handlers(engine_with_table):
    """SIGNAL / RESIGNAL and CONTINUE/EXIT handlers (r8 — the last
    mcs17-family surface; sql_signal.cc condition classes): SIGNAL
    raises a typed engine error (SqlSignal, sqlstate + errno +
    MESSAGE_TEXT), DECLARE EXIT HANDLER is a structured early-return
    with OUT params intact, CONTINUE handlers resume at the next
    statement, specific SQLSTATE handlers outrank class handlers,
    named conditions resolve, and RESIGNAL passes outward."""
    import pytest

    from mariadb_columnstore_engine_spark.engine import SqlSignal

    eng = engine_with_table
    # unhandled SIGNAL propagates as a typed error
    eng.execute(
        "CREATE PROCEDURE praise (IN v INT) BEGIN "
        "IF v < 0 THEN "
        "  SIGNAL SQLSTATE '45000' "
        "    SET MESSAGE_TEXT = 'negative input', MYSQL_ERRNO = 30001; "
        "END IF; "
        "SET @ok = v; "
        "END"
    )
    eng.execute("CALL praise(7)")
    assert eng.execute("SELECT @ok AS v").collect()[0].v == 7
    with pytest.raises(SqlSignal, match="45000.*negative input") as ei:
        eng.execute("CALL praise(-1)")
    assert ei.value.sqlstate == "45000" and ei.value.errno == 30001
    # EXIT handler: handled SIGNAL → early return, OUT param written
    eng.execute(
        "CREATE PROCEDURE phandled (IN v INT, OUT r INT) BEGIN "
        "DECLARE EXIT HANDLER FOR SQLSTATE '45000' SET r = -99; "
        "SET r = 1; "
        "IF v < 0 THEN SIGNAL SQLSTATE '45000'; END IF; "
        "SET r = 2; "
        "END"
    )
    eng.execute("CALL phandled(5, @r)")
    assert eng.execute("SELECT @r AS r").collect()[0].r == 2
    eng.execute("CALL phandled(-5, @r)")
    assert eng.execute("SELECT @r AS r").collect()[0].r == -99
    # CONTINUE handler resumes with the NEXT statement; a real SQL
    # error (bad table) classes as SQLEXCEPTION
    eng.execute(
        "CREATE PROCEDURE pcontinue (OUT r INT) BEGIN "
        "DECLARE hits INT DEFAULT 0; "
        "DECLARE CONTINUE HANDLER FOR SQLEXCEPTION "
        "  SET hits = hits + 10; "
        "SELECT no_such_col INTO r FROM t1; "
        "SET r = hits + 1; "
        "END"
    )
    eng.execute("CALL pcontinue(@r)")
    assert eng.execute("SELECT @r AS r").collect()[0].r == 11
    # specific SQLSTATE handler outranks the SQLEXCEPTION class
    # handler; named condition + RESIGNAL with message override
    eng.execute(
        "CREATE PROCEDURE pspecific (OUT who VARCHAR(20)) BEGIN "
        "DECLARE bad_input CONDITION FOR SQLSTATE '45001'; "
        "DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET who = 'class'; "
        "DECLARE CONTINUE HANDLER FOR bad_input SET who = 'specific'; "
        "SIGNAL bad_input SET MESSAGE_TEXT = 'nope'; "
        "END"
    )
    eng.execute("CALL pspecific(@w)")
    assert eng.execute("SELECT @w AS w").collect()[0].w == "specific"
    # RESIGNAL passes outward (procedure handlers do NOT re-catch),
    # with the message overridden; handler body in BEGIN..END form
    eng.execute(
        "CREATE PROCEDURE presignal () BEGIN "
        "DECLARE EXIT HANDLER FOR SQLSTATE '45000' BEGIN "
        "  SET @seen = 1; "
        "  RESIGNAL SET MESSAGE_TEXT = 'wrapped'; "
        "END; "
        "SIGNAL SQLSTATE '45000' SET MESSAGE_TEXT = 'inner'; "
        "END"
    )
    with pytest.raises(SqlSignal, match="wrapped"):
        eng.execute("CALL presignal()")
    assert eng.execute("SELECT @seen AS s").collect()[0].s == 1
    # RESIGNAL outside a handler errors (ER 1645)
    eng.execute("CREATE PROCEDURE pbadre () BEGIN RESIGNAL; END")
    with pytest.raises(ValueError, match="1645|not active"):
        eng.execute("CALL pbadre()")
    # EXIT handler for NOT FOUND ends the cursor loop early
    eng.execute(
        "CREATE PROCEDURE pexitnf (OUT total BIGINT) BEGIN "
        "DECLARE v BIGINT; "
        "DECLARE acc BIGINT DEFAULT 0; "
        "DECLARE cur CURSOR FOR SELECT id FROM t1 ORDER BY id; "
        "DECLARE EXIT HANDLER FOR NOT FOUND SET total = acc; "
        "WHILE 1 = 1 DO "
        "  FETCH cur INTO v; "
        "  SET acc = acc + v; "
        "END WHILE; "
        "END"
    )
    # cursor never opened → FETCH errors (SQLEXCEPTION class, not
    # NOT FOUND) — unmatched, propagates
    with pytest.raises(ValueError, match="not open"):
        eng.execute("CALL pexitnf(@t)")
    # warning-class SIGNAL without a handler proceeds (not fatal)
    eng.execute(
        "CREATE PROCEDURE pwarn (OUT r INT) BEGIN "
        "SIGNAL SQLSTATE '01002' SET MESSAGE_TEXT = 'heads up'; "
        "SET r = 42; "
        "END"
    )
    eng.execute("CALL pwarn(@r)")
    assert eng.execute("SELECT @r AS r").collect()[0].r == 42
    for p in (
        "praise", "phandled", "pcontinue", "pspecific",
        "presignal", "pbadre", "pexitnf", "pwarn",
    ):
        eng.execute(f"DROP PROCEDURE {p}")


def test_procedure_labeled_loops_and_case(engine_with_table):
    """Labeled LOOP / LEAVE / ITERATE and the procedural CASE
    statement (r8 — completes the mcs17 compound surface; formerly
    refused at CREATE)."""
    import pytest

    from mariadb_columnstore_engine_spark.engine import SqlSignal

    eng = engine_with_table
    # LOOP with LEAVE + ITERATE: sum odd numbers 1..9
    eng.execute(
        "CREATE PROCEDURE ploop (OUT total INT) BEGIN "
        "DECLARE i INT DEFAULT 0; "
        "DECLARE acc INT DEFAULT 0; "
        "walker: LOOP "
        "  SET i = i + 1; "
        "  IF i >= 10 THEN LEAVE walker; END IF; "
        "  IF i % 2 = 0 THEN ITERATE walker; END IF; "
        "  SET acc = acc + i; "
        "END LOOP walker; "
        "SET total = acc; "
        "END"
    )
    eng.execute("CALL ploop(@t)")
    assert eng.execute("SELECT @t AS t").collect()[0].t == 25
    # LEAVE from a LABELED WHILE, targeting the OUTER loop from an
    # inner one (multi-level unwind)
    eng.execute(
        "CREATE PROCEDURE pnest (OUT total INT) BEGIN "
        "DECLARE i INT DEFAULT 0; "
        "DECLARE acc INT DEFAULT 0; "
        "outerw: WHILE 1 = 1 DO "
        "  SET i = i + 1; "
        "  innerw: WHILE 1 = 1 DO "
        "    SET acc = acc + i; "
        "    IF acc >= 7 THEN LEAVE outerw; END IF; "
        "    LEAVE innerw; "
        "  END WHILE innerw; "
        "END WHILE outerw; "
        "SET total = acc; "
        "END"
    )
    eng.execute("CALL pnest(@t)")
    assert eng.execute("SELECT @t AS t").collect()[0].t == 10
    # a LOOP with no reachable LEAVE trips the runaway cap
    eng.execute(
        "CREATE PROCEDURE pinf () BEGIN "
        "DECLARE i INT DEFAULT 0; "
        "spin: LOOP SET i = i + 1; END LOOP spin; "
        "END"
    )
    eng._PROC_WHILE_CAP = 25  # keep the cap trip fast in-test
    try:
        with pytest.raises(ValueError, match="runaway"):
            eng.execute("CALL pinf()")
    finally:
        del eng._PROC_WHILE_CAP
    # LEAVE naming a label that doesn't enclose it
    eng.execute(
        "CREATE PROCEDURE pbadlabel () BEGIN "
        "walk: LOOP LEAVE elsewhere; END LOOP walk; "
        "END"
    )
    with pytest.raises(ValueError, match="LILABEL|does not match"):
        eng.execute("CALL pbadlabel()")
    # simple CASE (subject evaluated once) + searched CASE + ER 1339
    eng.execute(
        "CREATE PROCEDURE pcase (IN v INT, OUT tag VARCHAR(10)) BEGIN "
        "CASE v "
        "  WHEN 1 THEN SET tag = 'one'; "
        "  WHEN 2 THEN SET tag = 'two'; SET @extra = 99; "
        "  ELSE SET tag = 'many'; "
        "END CASE; "
        "END"
    )
    eng.execute("CALL pcase(2, @g)")
    got = eng.execute("SELECT @g AS g, @extra AS e").collect()[0]
    assert got.g == "two" and got.e == 99
    eng.execute("CALL pcase(7, @g)")
    assert eng.execute("SELECT @g AS g").collect()[0].g == "many"
    eng.execute(
        "CREATE PROCEDURE pcase2 (IN v INT, OUT tag VARCHAR(10)) BEGIN "
        "CASE "
        "  WHEN v < 0 THEN SET tag = 'neg'; "
        "  WHEN v = 0 THEN SET tag = 'zero'; "
        "END CASE; "
        "END"
    )
    eng.execute("CALL pcase2(-3, @g)")
    assert eng.execute("SELECT @g AS g").collect()[0].g == "neg"
    # no matching WHEN and no ELSE: MariaDB ER 1339 — and it is a
    # handleable condition (SQLSTATE 20000)
    with pytest.raises(SqlSignal, match="1339|Case not found"):
        eng.execute("CALL pcase2(5, @g)")
    eng.execute(
        "CREATE PROCEDURE pcase3 (OUT r VARCHAR(10)) BEGIN "
        "DECLARE CONTINUE HANDLER FOR SQLSTATE '20000' "
        "  SET r = 'handled'; "
        "CASE WHEN 1 = 2 THEN SET r = 'no'; END CASE; "
        "END"
    )
    eng.execute("CALL pcase3(@r)")
    assert eng.execute("SELECT @r AS r").collect()[0].r == "handled"
    for p in (
        "ploop", "pnest", "pinf", "pbadlabel", "pcase", "pcase2",
        "pcase3",
    ):
        eng.execute(f"DROP PROCEDURE {p}")


def test_procedure_exit_handler_with_open_cursor(engine_with_table):
    """The canonical MariaDB cursor loop with an EXIT handler — the
    NOT FOUND exhaustion exits the WHILE directly."""
    eng = engine_with_table
    eng.execute(
        "CREATE PROCEDURE psum2 (OUT total BIGINT) BEGIN "
        "DECLARE v BIGINT; "
        "DECLARE acc BIGINT DEFAULT 0; "
        "DECLARE cur CURSOR FOR "
        "  SELECT id FROM t1 WHERE id < 5 ORDER BY id; "
        "DECLARE EXIT HANDLER FOR NOT FOUND SET total = acc; "
        "OPEN cur; "
        "WHILE 1 = 1 DO "
        "  FETCH cur INTO v; "
        "  SET acc = acc + v; "
        "END WHILE; "
        "END"
    )
    eng.execute("CALL psum2(@t)")
    assert eng.execute("SELECT @t AS t").collect()[0].t == 10
    eng.execute("DROP PROCEDURE psum2")


def test_malformed_cursor_rejected_at_create(engine_with_table):
    """Cursor spellings that miss the supported forms fail at CREATE
    with a parse error — never at CALL time as a raw Spark error."""
    import pytest

    eng = engine_with_table
    for body in (
        "FETCH cur",  # no INTO
        "OPEN cur extra",  # trailing token
        "CLOSE",  # missing name
        "DECLARE cur CURSOR",  # no FOR <select>
    ):
        with pytest.raises(ValueError, match="malformed cursor"):
            eng.execute(
                "CREATE PROCEDURE mc () BEGIN "
                "DECLARE v BIGINT; "
                f"{body}; "
                "END"
            )


def test_cursor_refused_in_triggers(engine_with_table):
    import pytest

    eng = engine_with_table
    with pytest.raises(ValueError, match="cursors in trigger"):
        eng.execute(
            "CREATE TRIGGER tcur BEFORE INSERT ON t1 FOR EACH ROW "
            "BEGIN DECLARE c CURSOR FOR SELECT 1; OPEN c; END"
        )


def test_sql_calc_found_rows(engine_with_table):
    """MariaDB pagination idiom: SQL_CALC_FOUND_ROWS records the
    pre-LIMIT count; SELECT FOUND_ROWS() reads it (r7 — probe
    candidate from VERDICT r6 #3)."""
    eng = engine_with_table
    rows = eng.execute(
        "SELECT SQL_CALC_FOUND_ROWS id FROM t1 WHERE id >= 2"
        " ORDER BY id LIMIT 3"
    ).collect()
    assert [r.id for r in rows] == [2, 3, 4]
    assert eng.execute(
        "SELECT FOUND_ROWS() AS n"
    ).collect()[0].n == 8  # ids 2..9 pre-LIMIT
    # LIMIT m, n form + OFFSET spelling both strip for the count
    eng.execute(
        "SELECT SQL_CALC_FOUND_ROWS id FROM t1 ORDER BY id LIMIT 2, 3"
    )
    assert eng.execute(
        "SELECT FOUND_ROWS() AS n"
    ).collect()[0].n == 10
    # FOUND_ROWS() in an expression position. The preceding
    # SELECT FOUND_ROWS() was itself a 1-row plain SELECT, which (as
    # in MariaDB) reset the session value to 1 — so this reads 1+5.
    v = eng.execute(
        "SELECT FOUND_ROWS() + 5 AS n"
    ).collect()[0].n
    assert v == 6
    # plain SELECT (no SQL_CALC_FOUND_ROWS) also updates the session
    # value — to the POST-LIMIT count of rows returned (MariaDB
    # semantics); the count job runs lazily, only on this read
    eng.execute("SELECT id FROM t1 WHERE id >= 4 ORDER BY id LIMIT 3")
    assert eng.execute(
        "SELECT FOUND_ROWS() AS n"
    ).collect()[0].n == 3
    # ...and SELECT FOUND_ROWS() is itself a 1-row plain SELECT
    assert eng.execute(
        "SELECT FOUND_ROWS() AS n"
    ).collect()[0].n == 1


def test_procedure_analyse(engine_with_table):
    """SELECT .. PROCEDURE ANALYSE() (sql_analyse.cc): one aggregate
    pass produces the per-column profile relation."""
    eng = engine_with_table
    df = eng.execute(
        "SELECT id, note FROM t1 WHERE id < 5 PROCEDURE ANALYSE()"
    )
    rows = {r.Field_name: r for r in df.collect()}
    assert set(rows) == {"id", "note"}
    rid = rows["id"]
    assert rid.Min_value == "0" and rid.Max_value == "4"
    assert rid.Empties_or_zeros == 1 and rid.Nulls == 0
    assert rid.Avg_value_or_avg_length == 2.0
    rn = rows["note"]  # ids 0,3 are NULL in the fixture
    assert rn.Min_value == "n1" and rn.Max_value == "n4"
    assert rn.Min_length == 2 and rn.Max_length == 2
    assert rn.Nulls == 2
    assert rn.Avg_value_or_avg_length == 2.0
    # numeric min/max are tracked NUMERICALLY (sql_analyse.cc), not as
    # lexicographic string extremes: over {-5,-2,1,...,22} a string
    # min/max would report '-2'/'7'
    rv = {
        r.Field_name: r
        for r in eng.execute(
            "SELECT id * 3 - 5 AS v FROM t1 PROCEDURE ANALYSE()"
        ).collect()
    }["v"]
    assert rv.Min_value == "-5" and rv.Max_value == "22"
    # args accepted-and-ignored; PROCEDURE must be the final clause
    eng.execute("SELECT id FROM t1 PROCEDURE ANALYSE(10, 256)")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="final clause"):
        eng.execute(
            "SELECT id FROM t1 PROCEDURE ANALYSE() ORDER BY id"
        )


def test_dml_resets_show_warnings(engine_wh):
    """MariaDB resets the warning list at every statement that uses a
    table: the INSERT IGNORE skip warning must not survive a later
    UPDATE or DELETE."""
    eng = engine_wh
    eng.execute(
        "CREATE TABLE wt (a INT, b INT, CONSTRAINT b_pos CHECK (b > 0))"
    )
    eng.execute("INSERT IGNORE INTO wt (a, b) VALUES (1, 1), (2, -1)")
    assert [w[1] for w in eng.execute("SHOW WARNINGS")] == [4025]
    eng.execute("UPDATE wt SET b = 5 WHERE a = 1")
    assert eng.execute("SHOW WARNINGS") == []
    eng.execute("INSERT IGNORE INTO wt (a, b) VALUES (3, -1)")
    assert [w[1] for w in eng.execute("SHOW WARNINGS")] == [4025]
    eng.execute("DELETE FROM wt WHERE a = 99")
    assert eng.execute("SHOW WARNINGS") == []


def test_layer_boundaries_called_through_modules(
    engine_with_table, monkeypatch
):
    """The benchmark's traced run wraps statements.parse and
    sources.dml.update_where/delete_where as module attributes; the
    engine must reach them through those attributes, once per
    statement, or the per-layer numbers go blank."""
    from collections import Counter

    from mariadb_columnstore_engine_spark.sources import dml

    calls: Counter = Counter()

    def count(module, name):
        fn = getattr(module, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(module, name, wrapper)

    count(st, "parse")
    count(dml, "update_where")
    count(dml, "delete_where")
    eng = engine_with_table
    eng.execute("INSERT INTO t1 (id, val) VALUES (50, 5.0)")
    eng.execute("UPDATE t1 SET val = 6.0 WHERE id = 50")
    eng.execute("DELETE FROM t1 WHERE id = 50")
    assert calls == {"parse": 3, "update_where": 1, "delete_where": 1}
