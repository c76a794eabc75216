"""User-facing engine facade — the single object a reference user adopts.

Reference analogue: connecting to mysqld with the ColumnStore plugin
loaded (SQL in → results out, dbcon/mysql/ha_mcs_pushdown.cpp:762). Here:

    from mariadb_columnstore_engine_spark.engine import Engine
    eng = Engine.local(sf_dir="/data/warehouse")
    eng.sql("SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1")
    eng.table("orders").where(...)         # DataFrame surface
    eng.analyze("lineitem")                # CBO stats (ANALYZE plan)

Bundles: tuned session (session.py), parquet catalog + temp views
(catalog.py), the MariaDB-dialect UDF registrations (functions/udf.py),
and ingest/DML helpers (sources/).
"""

from __future__ import annotations

import logging
import os
import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    UserDefinedType,
)

_LOG = logging.getLogger(__name__)

# statements.parse and sources.dml.* resolve through their modules at
# call time, so a wrapper installed on the module attribute sees every
# call (perfbench/tracing.py relies on this)
from mariadb_columnstore_engine_spark import procedures
from mariadb_columnstore_engine_spark import statements as st
from mariadb_columnstore_engine_spark.catalog import TABLES, Catalog
from mariadb_columnstore_engine_spark.functions.udf import register_all
from mariadb_columnstore_engine_spark.session import get_session
from mariadb_columnstore_engine_spark.sources import (
    dml,
    ingest,
    maintenance,
    manifest,
)

# Stored-SQL-function bookkeeping, keyed on the SparkSession: the
# TEMPORARY FUNCTIONs themselves live on the shared session, so their
# registry must too — two Engines over one session see the same set
# (and a builtin name never false-positives as a user function).
import weakref

_SQL_FUNCTIONS: "weakref.WeakKeyDictionary[SparkSession, set[str]]" = (
    weakref.WeakKeyDictionary()
)


def _session_sql_functions(spark: SparkSession) -> set[str]:
    return _SQL_FUNCTIONS.setdefault(spark, set())


#: the row-position column AUTO_INCREMENT numbers VALUES rows by
_ROW = "__mcs_row"

#: statement kind (statements.KINDS) → the Engine method that runs it
_HANDLERS: dict = {}


def _handles(*kinds: str):
    """Register the decorated Engine method as the handler of ``kinds``."""

    def register(fn):
        for kind in kinds:
            _HANDLERS[kind] = fn
        return fn

    return register


def _cast(c: Column, dt: DataType) -> Column:
    """``c.cast(dt)``. A non-nested type goes by its simple string, which
    Spark's parser reads back as the same type, in one py4j call: a cast
    to a ``DataType`` object first looks up the active session and
    parses the type's JSON (about six round trips per column)."""
    if isinstance(dt, (ArrayType, MapType, StructType, UserDefinedType)):
        return c.cast(dt)
    return c.cast(dt.simpleString())


class Engine:
    """SQL + DataFrame entry point over a directory of parquet tables."""

    def __init__(self, spark: SparkSession, sf_dir: str,
                 warehouse: str | None = None):
        self.spark = spark
        # session state (one MariaDB connection's worth)
        #: attached user tables: name → {"path", "keys"[, "db", ...]}
        self._user_tables: dict[str, dict] = {}
        #: open BEGIN: table name → pre-image snapshot directory
        self._txn: dict[str, str] | None = None
        self._user_vars: dict[str, object] = {}
        self._prepared: dict[str, str] = {}
        self._procedures: dict[str, st.CreateProcedure] = {}
        self._triggers: dict[str, st.CreateTrigger] = {}
        self._sysvars: dict[str, str] = {}
        #: SHOW WARNINGS rows: (level, code, message)
        self._warnings: list[tuple] = []
        self._databases = {"default"}
        self._current_db = "default"
        self._last_insert_id = 0
        #: FOUND_ROWS(): a count, or the last plain SELECT to count
        self._found_rows: int | DataFrame = 0
        self._found_rows_calc = False
        self._trace = False
        self._last_trace: str | None = None
        self._string_cols_cache: frozenset[str] | None = None
        #: log4j handles for _quiet_analyzer_errors (None: unresolved)
        self._log4j: tuple | bool | None = None
        self.catalog = Catalog(spark, sf_dir)
        #: directory CREATE TABLE AS SELECT materializes into
        self.warehouse = warehouse
        self.catalog.register_views()
        register_all(spark)
        self._register_persisted_views()

    @classmethod
    def local(cls, sf_dir: str, app_name: str = "mcs-spark-engine",
              **session_kwargs) -> "Engine":
        return cls(get_session(app_name, **session_kwargs), sf_dir)

    def _string_columns(self) -> frozenset[str]:
        """Lowercase string-typed column names across the catalog's
        base tables — handed to the dialect layer so it can apply
        MariaDB's loose string→number coercion at numeric/boolean
        contexts, exactly as the server's parser (which has the
        catalog) does. Computed once; schemas are already loaded by
        register_views so this reads no new footers."""
        cached = self._string_cols_cache
        if cached is None:
            from pyspark.sql.types import StringType

            cols: set[str] = set()
            for t in TABLES + self.catalog.optional_tables_present():
                try:
                    for f in self.catalog.table(t).schema.fields:
                        if isinstance(f.dataType, StringType):
                            cols.add(f.name.lower())
                except Exception:  # noqa: BLE001 — missing fixture ok
                    pass
            cached = frozenset(cols)
            self._string_cols_cache = cached
        return cached

    def sql(self, query: str, *, dialect: str = "mariadb") -> DataFrame:
        """Run SQL over the registered tables (+ engine UDFs).

        ``dialect="mariadb"`` (default) first rewrites MariaDB-isms Spark
        spells differently (GROUP_CONCAT, LIMIT offset-comma, %-format
        patterns, # comments — functions/sqltrans.py); ANSI statements
        pass through unchanged. ``dialect="spark"`` skips the pass.
        """
        if dialect == "mariadb":
            from mariadb_columnstore_engine_spark.functions.sqltrans import (
                translate_statement,
            )

            if self._sysvars.get("sql_mode") == "ORACLE":
                from mariadb_columnstore_engine_spark.functions.sqltrans import (  # noqa: E501
                    oracle_mode_prepass,
                )

                query = oracle_mode_prepass(query)
            query = translate_statement(query, self._string_columns())
            query = self._normalize_setop_types(query)
        if re.search(
            r"\binformation_schema_\w+\b", query, re.IGNORECASE
        ):
            # i_s plugin-table reads (i_s.test) see CURRENT metadata:
            # rebuild the views on demand, like the reference's i_s
            # tables querying BRM live
            self.refresh_information_schema()
        if dialect == "mariadb":
            # error-driven MariaDB-semantics repairs: loose GROUP BY
            # (MCOL-5772 → any_value) and numeric truthiness
            # (mcs7031/7116/7173 → explicit <> 0). The analyzer names
            # the offending expression precisely, so the rewrite is
            # surgical; bounded retries, genuine errors re-raise.
            from pyspark.errors import AnalysisException

            from mariadb_columnstore_engine_spark.functions.sqltrans import (  # noqa: E501
                analysis_repair,
            )

            # two repair shapes are supported (loose GROUP BY, numeric
            # truthiness); a statement may need one of each plus one
            # chained ORDER-BY repair — 4 rounds covers every legal
            # composition without churning on unrepairable errors.
            # The analyzer's SQLQueryContextLogger logs an ERROR line
            # for every AnalysisException even when the repair then
            # fixes the statement — silence it for the probe attempts
            # and re-raise genuine failures (their exception reaches
            # the caller with the full message regardless).
            with self._quiet_analyzer_errors():
                for _ in range(4):
                    try:
                        df = self.spark.sql(query)
                        break
                    except AnalysisException as e:
                        fixed = analysis_repair(query, str(e))
                        if fixed is None or fixed == query:
                            raise
                        _LOG.debug(
                            "analysis_repair rewrote statement: "
                            "%r -> %r",
                            query, fixed,
                        )
                        query = fixed
                else:
                    df = self.spark.sql(query)
        else:
            df = self.spark.sql(query)
        if self._trace:
            # calsettrace(1) → calgettrace() reads the compiled physical
            # plan of the last statement (ha_mcs_client_udfs.cpp:910 —
            # the reference returns the joblist trace the same way)
            mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
            self._last_trace = df._jdf.queryExecution().explainString(
                mode.fromString("formatted")
            )
        return df

    @staticmethod
    def _split_top_level_setops(sql: str) -> tuple[list[str], list[str]]:
        """Split a statement on depth-0 UNION/INTERSECT/EXCEPT outside
        quotes. Returns (branches, operators); a single branch means no
        top-level set operation."""
        parts: list[str] = []
        ops: list[str] = []
        kw = re.compile(
            r"(UNION(?:\s+ALL|\s+DISTINCT)?|INTERSECT(?:\s+ALL)?"
            r"|EXCEPT(?:\s+ALL)?)\b",
            re.IGNORECASE,
        )
        depth, last, i, n, in_str = 0, 0, 0, len(sql), None
        while i < n:
            c = sql[i]
            if in_str:
                if c == "\\" and in_str == "'":
                    i += 2
                    continue
                if c == in_str:
                    if i + 1 < n and sql[i + 1] == in_str:
                        i += 2
                        continue
                    in_str = None
                i += 1
                continue
            if c in ("'", '"', "`"):
                in_str = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif depth == 0 and c.upper() in "UIE":
                if i == 0 or not (sql[i - 1].isalnum()
                                  or sql[i - 1] == "_"):
                    m = kw.match(sql, i)
                    if m:
                        parts.append(sql[last:i])
                        ops.append(m.group(1))
                        i = m.end()
                        last = i
                        continue
            i += 1
        parts.append(sql[last:])
        return parts, ops

    def _normalize_setop_types(self, query: str) -> str:
        """MariaDB set operations coerce column-wise: a position mixing
        a string branch with a numeric/temporal branch aggregates to a
        character type (sql_union — the result field type is the
        union of field types; mcs7126/mcs7195 ``select * from region
        union select n_regionkey, ...``). Spark instead picks the
        numeric side and fails casting 'AFRICA' at runtime. Analyze
        each top-level branch (plan-only, no execution), and where a
        position mixes string with non-string, wrap the non-string
        branches to CAST that position AS STRING. No-conflict
        statements return unchanged; any analysis error defers to the
        normal execution path for its real message."""
        if not re.search(r"\b(UNION|INTERSECT|EXCEPT)\b", query,
                         re.IGNORECASE):
            return query
        try:
            # recurse into parenthesized subqueries first (derived
            # tables carrying the set operation — mcs7195)
            out, i, n, in_str = [], 0, len(query), None
            while i < n:
                c = query[i]
                if in_str:
                    if c == "\\" and in_str == "'":
                        out.append(query[i:i + 2])
                        i += 2
                        continue
                    if c == in_str:
                        in_str = None
                    out.append(c)
                    i += 1
                    continue
                if c in ("'", '"', "`"):
                    in_str = c
                    out.append(c)
                    i += 1
                    continue
                if c == "(":
                    depth, j, instr2 = 0, i, None
                    while j < n:
                        cj = query[j]
                        if instr2:
                            if cj == "\\" and instr2 == "'":
                                j += 2
                                continue
                            if cj == instr2:
                                instr2 = None
                        elif cj in ("'", '"', "`"):
                            instr2 = cj
                        elif cj == "(":
                            depth += 1
                        elif cj == ")":
                            depth -= 1
                            if depth == 0:
                                break
                        j += 1
                    inner = query[i + 1:j]
                    if re.match(r"\s*SELECT\b", inner, re.IGNORECASE) \
                            and re.search(
                                r"\b(UNION|INTERSECT|EXCEPT)\b",
                                inner, re.IGNORECASE):
                        inner = self._normalize_setop_types(inner)
                    out.append("(" + inner + ")")
                    i = j + 1
                    continue
                out.append(c)
                i += 1
            query = "".join(out)

            parts, ops = self._split_top_level_setops(query)
            if len(parts) < 2:
                return query
            # the trailing ORDER BY / LIMIT of the LAST branch belongs
            # to the whole set operation — split it off before wrapping
            tail = ""
            tm = None
            depth, in_str = 0, None
            last = parts[-1]
            for i, c in enumerate(last):
                if in_str:
                    if c == in_str:
                        in_str = None
                    continue
                if c in ("'", '"', "`"):
                    in_str = c
                elif c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                elif depth == 0 and c.upper() in "OL":
                    if i == 0 or not (last[i - 1].isalnum()
                                      or last[i - 1] == "_"):
                        tm = re.match(r"(?:ORDER\s+BY|LIMIT)\b",
                                      last[i:], re.IGNORECASE)
                        if tm:
                            tail = last[i:]
                            parts[-1] = last[:i]
                            break
            from pyspark.sql.types import StringType

            with self._quiet_analyzer_errors():
                schemas = [self.spark.sql(p).schema for p in parts]
            width = min(len(s.fields) for s in schemas)

            # INTERSECT binds tighter than UNION/EXCEPT in BOTH engines,
            # so conflict analysis must respect that grouping: a string
            # branch in one UNION arm must not force a numeric INTERSECT
            # in another arm to compare as strings (DECIMAL '1.0' vs
            # BIGINT '1' would stop matching — ADVICE r9). MariaDB
            # evaluates the INTERSECT on native types and coerces only
            # its RESULT at the UNION level; mirror that by grouping
            # maximal INTERSECT chains before computing conflicts.
            groups: list[list[int]] = [[0]]
            group_ops: list[str] = []
            for k, op in enumerate(ops):
                if op.upper().startswith("INTERSECT"):
                    groups[-1].append(k + 1)
                else:
                    group_ops.append(op)
                    groups.append([k + 1])

            def is_str(bi: int, i: int) -> bool:
                return isinstance(
                    schemas[bi].fields[i].dataType, StringType)

            # group-effective type per position: string iff any branch
            # in the chain is string (intra-group coercion makes it so)
            eff = [
                [any(is_str(bi, i) for bi in g) for i in range(width)]
                for g in groups
            ]
            top_conflict = [
                i for i in range(width)
                if any(e[i] for e in eff)
                and not all(e[i] for e in eff)
            ]
            intra = [
                [
                    i for i in range(width)
                    if any(is_str(bi, i) for bi in g)
                    and not all(is_str(bi, i) for bi in g)
                ]
                for g in groups
            ]
            if not top_conflict and not any(intra):
                return query
            names = [f.name for f in schemas[0].fields]

            def cast_wrap(body, s, needs, alias):
                # positional column-alias list handles duplicate names
                # in the branch's select list (mcs7195 selects
                # r_regionkey three times)
                cols = ", ".join(
                    f"`__c{i}`" for i in range(len(s.fields)))
                sel = ", ".join(
                    (f"CAST(`__c{i}` AS STRING)" if i in needs
                     else f"`__c{i}`") + f" AS `{names[i]}`"
                    for i in range(len(s.fields))
                )
                return f" SELECT {sel} FROM ( {body} ) {alias}({cols}) "

            group_sql: list[str] = []
            for gi, g in enumerate(groups):
                top_needs = [
                    i for i in top_conflict if not eff[gi][i]]
                branch_sql = []
                for bi in g:
                    needs = [
                        i for i in intra[gi] if not is_str(bi, i)]
                    if len(g) == 1:
                        needs += [
                            i for i in top_needs if i not in needs]
                    if needs:
                        branch_sql.append(cast_wrap(
                            parts[bi], schemas[bi], sorted(needs),
                            f"__setop_b{bi}"))
                    else:
                        branch_sql.append(parts[bi])
                sql_g = branch_sql[0]
                for op, p in zip(
                        [ops[bi - 1] for bi in g[1:]], branch_sql[1:]):
                    sql_g += f" {op} {p}"
                if len(g) > 1 and top_needs:
                    # evaluate the INTERSECT chain on native types,
                    # coerce only its result for the outer UNION/EXCEPT
                    sql_g = cast_wrap(
                        sql_g, schemas[g[0]], top_needs,
                        f"__setop_g{gi}")
                group_sql.append(sql_g)
            rebuilt = group_sql[0]
            for op, p in zip(group_ops, group_sql[1:]):
                rebuilt += f" {op} {p}"
            return rebuilt + (" " + tail if tail else "")
        except Exception:  # noqa: BLE001 — defer to normal execution
            return query

    def table(self, name: str) -> DataFrame:
        if name in self._user_tables:
            return self.spark.table(name)
        return self.catalog.table(name)

    # --- user tables + statement router (DML/DDL over SQL) ---

    def attach_table(self, name: str, path: str,
                     *, keys: list[str] | None = None) -> None:
        """Attach a user-writable parquet table for SQL + DML.

        ``keys`` (optional) declares the unique key REPLACE INTO needs.
        Catalog fixture tables stay read-only; DML targets must be
        attached here (≈ the reference's distinction between system
        catalog entries and user tables it owns extents for)."""
        from mariadb_columnstore_engine_spark.sources.ingest import (
            read_table_evolved,
        )

        if name in TABLES:
            # a user table named like a catalog fixture would silently
            # shadow the fixture view for every subsequent query
            raise ValueError(
                f"{name!r} is a read-only catalog fixture table name"
            )
        read_table_evolved(self.spark, path).createOrReplaceTempView(name)
        self._user_tables[name] = {"path": path, "keys": keys or []}

    def _writable(self, table: str) -> dict:
        info = self._user_tables.get(table)
        if info is None:
            if table not in TABLES:
                try:
                    is_view = self.spark.catalog.tableExists(table)
                except Exception:
                    is_view = False
                if is_view:
                    # reference parity (mcs26_insert_into_view.test):
                    # "MCS-1011: Insert on VIEW is currently not
                    # supported." / ER 1393 for join views — the
                    # engine refuses DML through views outright
                    raise ValueError(
                        f"{table!r} is a view: DML on views is not "
                        "supported (MCS-1011, "
                        "mcs26_insert_into_view.test parity)"
                    )
            raise ValueError(
                f"table {table!r} is not attached for DML — catalog "
                "fixture tables are read-only; Engine.attach_table() a "
                "user-owned path first"
            )
        return info

    def _refresh(self, table: str) -> None:
        from mariadb_columnstore_engine_spark.sources.ingest import (
            read_table_evolved,
        )

        path = self._writable(table)["path"]
        # cached relations over the rewritten files, and only those
        self.spark.catalog.refreshByPath(path)
        read_table_evolved(self.spark, path).createOrReplaceTempView(table)

    # --- transactions (version-buffer rollback analogue) -----------

    def begin(self) -> None:
        """BEGIN / START TRANSACTION: snapshot every attached user
        table's pre-image (hardlinked data files + copied sidecars —
        sources.dml.snapshot_tree ≈ the BRM version buffer holding block
        pre-images, versioning/BRM/dbrm.h:164-199). Statement-level
        atomicity is unchanged; this adds multi-statement ROLLBACK.
        Tables attached after BEGIN are not part of the transaction."""
        import uuid

        from mariadb_columnstore_engine_spark.sources.dml import (
            snapshot_tree,
        )

        if self._txn is not None:
            raise ValueError("transaction already open (COMMIT/ROLLBACK first)")
        snap: dict[str, str] = {}
        for name, info in self._user_tables.items():
            backup = f"{info['path'].rstrip('/')}__txn_{uuid.uuid4().hex[:8]}"
            snapshot_tree(info["path"], backup)
            snap[name] = backup
        self._txn = snap

    def commit(self) -> None:
        """COMMIT: discard the pre-image snapshots (the version buffer's
        post-commit cleanup)."""
        import shutil

        txn = self._txn
        if txn is None:
            raise ValueError("no open transaction")
        for backup in txn.values():
            shutil.rmtree(backup, ignore_errors=True)
        self._txn = None

    def rollback(self) -> None:
        """ROLLBACK: restore every attached table's pre-image directory
        (data + evolution sidecar) and refresh its view. Restores are
        popped from the transaction one by one, so a failure mid-way
        leaves only the OUTSTANDING tables in the open transaction — a
        repeat ROLLBACK retries exactly those, never a consumed backup."""
        txn = self._txn
        if txn is None:
            raise ValueError("no open transaction")
        try:
            for name in list(txn):
                dml.swap(txn[name], self._user_tables[name]["path"])
                txn.pop(name)
                self._refresh(name)
        finally:
            if not txn:
                self._txn = None

    def refresh_information_schema(self) -> None:
        """(Re)build the information_schema views over catalog + user
        tables (≈ the reference's i_s plugin tables,
        mysql-test/columnstore basic i_s coverage; columnstore_extents
        has its own API: sources.maintenance.extent_map)."""
        tables, columns = [], []
        names = list(TABLES) + sorted(self._user_tables)
        for tn in names:
            kind = "user" if tn in self._user_tables else "catalog"
            fields = self.describe(tn)
            tables.append((tn, kind, len(fields)))
            for pos, (cn, ct) in enumerate(fields, start=1):
                columns.append((tn, cn, pos, ct))
        self.spark.createDataFrame(
            tables, "table_name string, table_kind string, n_columns int"
        ).createOrReplaceTempView("information_schema_tables")
        self.spark.createDataFrame(
            columns,
            "table_name string, column_name string, "
            "ordinal_position int, data_type string",
        ).createOrReplaceTempView("information_schema_columns")
        # columnstore_extents analogue: per-(file, row-group, column)
        # min/max/null stats from parquet footers (the reference's
        # extent-map i_s table backed by BRM casual-partitioning entries)
        from mariadb_columnstore_engine_spark.sources.maintenance import (
            extent_map,
        )

        extents = []
        for tn in names:
            if tn in self._user_tables:
                path = self._user_tables[tn]["path"]
            else:
                path = f"{self.catalog._sf_dir}/{tn}.parquet"
            try:
                for e in extent_map(self.spark, path):
                    extents.append(
                        (tn, e["file"], e["row_group"], e["column"],
                         e["num_rows"], str(e["min"]), str(e["max"]),
                         e["null_count"])
                    )
            except Exception:  # noqa: BLE001 — stats are best-effort
                continue
        self.spark.createDataFrame(
            extents,
            "table_name string, file string, row_group int, "
            "column_name string, num_rows bigint, min_value string, "
            "max_value string, null_count bigint",
        ).createOrReplaceTempView("information_schema_extents")
        # columnstore_files analogue: per-data-file size + partition
        # status (disabled files = excluded extents)
        from mariadb_columnstore_engine_spark.sources import manifest

        files = []
        for tn in names:
            if tn in self._user_tables:
                path = self._user_tables[tn]["path"]
            else:
                path = f"{self.catalog._sf_dir}/{tn}.parquet"
            try:
                if os.path.isdir(path):
                    off = manifest.disabled(path)
                    for key, f in manifest.partitions(path).items():
                        files.append(
                            (tn, key, os.path.getsize(f),
                             "Disabled" if key in off else "Enabled")
                        )
                else:
                    files.append(
                        (tn, os.path.basename(path),
                         os.path.getsize(path), "Enabled")
                    )
            except OSError:
                continue
        self.spark.createDataFrame(
            files,
            "table_name string, file string, bytes bigint, status string",
        ).createOrReplaceTempView("information_schema_files")

    #: run_script refuses to materialize a SELECT bigger than this on
    #: the driver (MTR-style scripts SELECT small result sets; a stray
    #: `SELECT * FROM lineitem` at sf1+ would OOM the driver silently).
    script_select_row_cap: int = 1_000_000

    def run_script(
        self,
        script: str,
        *,
        dialect: str = "mariadb",
        materialize: bool = True,
    ) -> list:
        """Execute a multi-statement script (mask-aware ``;`` split);
        returns each statement's execute() result in order.

        SELECT results are MATERIALIZED at their point in the script
        (collect + re-wrap), matching MariaDB's statement-at-a-time
        streaming: a lazy DataFrame would re-read the table as of
        whenever the caller finally collects — after any later DML
        rewrote or dropped it (copy-on-write swaps the directory, so
        the stale file list doesn't just read old data, it errors).

        Driver-memory guard: a SELECT whose result exceeds
        ``script_select_row_cap`` rows raises instead of collecting
        (the cap is checked with ``limit(cap+1)``, never a full
        collect). Pass ``materialize=False`` as the documented escape
        hatch for read-only scripts — results stay lazy DataFrames and
        scale to any size, at the cost of statement-time snapshot
        semantics when a later statement mutates the same table."""
        from mariadb_columnstore_engine_spark.functions.sqltrans import (
            split_script,
        )

        cap = self.script_select_row_cap
        out = []
        for stmt_text in split_script(script):
            r = self.execute(stmt_text, dialect=dialect)
            if isinstance(r, DataFrame) and materialize:
                rows = r.limit(cap + 1).collect()
                if len(rows) > cap:
                    raise ValueError(
                        f"script SELECT exceeds {cap} rows; raise "
                        "Engine.script_select_row_cap or pass "
                        "materialize=False for lazy results"
                    )
                r = self.spark.createDataFrame(rows, r.schema)
            out.append(r)
        return out

    # --- stored programs: statements.parse parses a body, procedures.py
    # runs it (one interpreter for CALLs and trigger bodies) ----------

    @_handles("create_procedure")
    def _create_procedure(self, p, dialect):
        """CREATE PROCEDURE (mcs17): the body parsed already; it runs at
        CALL."""
        if p.name in self._procedures and not p.or_replace:
            if p.if_not_exists:
                return None
            raise ValueError(
                f"procedure {p.name!r} already exists "
                "(ER_SP_ALREADY_EXISTS; use OR REPLACE)"
            )
        self._procedures[p.name] = p

    @_handles("drop_procedure", "drop_procedure_if_exists")
    def _drop_procedure(self, p, dialect):
        if p.arg not in self._procedures:
            if p.kind == "drop_procedure_if_exists":
                return None
            raise ValueError(
                f"unknown procedure {p.arg!r} (ER_SP_DOES_NOT_EXIST)"
            )
        del self._procedures[p.arg]

    @_handles("show_procedure_status")
    def _show_procedure_status(self, p, dialect):
        return [
            (n, "PROCEDURE", proc.comment)
            for n, proc in sorted(self._procedures.items())
        ]

    @_handles("call")
    def _call(self, p, dialect):
        """CALL a stored procedure (mcs17): its last result set, if any."""
        if p.name not in self._procedures:
            raise ValueError(
                f"unknown procedure {p.name!r} (ER_SP_DOES_NOT_EXIST)"
            )
        return procedures.call(self, self._procedures[p.name], p.args, dialect)

    @_handles("create_trigger")
    def _create_trigger(self, p, dialect):
        """CREATE TRIGGER (mcs60_trigger.test), set-based semantics
        (sources/triggers.py module doc): BEFORE INSERT/UPDATE bodies
        compile to one per-column projection; AFTER bodies, and BEFORE
        DELETE bodies, run once per STATEMENT over the affected-row
        relation. Loops and cursors are refused (no set-based
        reading)."""
        from mariadb_columnstore_engine_spark.sources.triggers import (
            compile_before_transform,
        )

        if p.name in self._triggers and not p.replace:
            if p.if_not_exists:
                return None
            raise ValueError(
                f"trigger {p.name!r} already exists (use OR REPLACE)"
            )
        # table must exist (MariaDB ER_NO_SUCH_TABLE)
        cols = [c for c, _ in self.describe(p.table)]
        procedures.check_trigger_body(p.body)
        if p.timing == "BEFORE" and p.event != "DELETE":
            # compile NOW so malformed bodies fail at CREATE, like
            # mysqld's parse-time validation
            compile_before_transform(p.body, cols)
        self._triggers[p.name] = p

    @_handles("drop_trigger", "drop_trigger_if_exists")
    def _drop_trigger(self, p, dialect):
        if p.arg not in self._triggers:
            if p.kind == "drop_trigger_if_exists":
                return None
            raise ValueError(f"unknown trigger {p.arg!r}")
        del self._triggers[p.arg]

    @_handles("show_triggers")
    def _show_triggers(self, p, dialect):
        return [
            (t.name, t.event, t.table, t.timing)
            for t in sorted(self._triggers.values(), key=lambda t: t.name)
        ]

    def _table_triggers(self, table: str, timing: str, event: str):
        """Triggers for (table, timing, event), creation-ordered. Empty
        while a trigger body runs in this thread — triggers do not
        cascade here (documented guard against self-recursion; the
        reference likewise refuses a trigger mutating its own table)."""
        if procedures.in_trigger():
            return []
        return [
            t
            for t in self._triggers.values()
            if t.table == table.lower()
            and t.timing == timing
            and t.event == event
        ]

    def _fire_after_triggers(
        self, table: str, event: str, affected, dialect: str,
        *, timing: str = "AFTER",
    ) -> None:
        """Run AFTER-trigger bodies (and, for DELETE, BEFORE-trigger
        bodies — same statement-level semantics, fired before the
        copy-on-write removes the rows so the body sees pre-delete
        table state) once per statement over the affected-row
        relation (procedures.TriggerFrame)."""
        triggers = self._table_triggers(table, timing, event)
        if triggers and affected is not None:
            procedures.fire(self, triggers, event, affected, dialect)

    def _render_uservar_literal(self, v) -> str:
        import datetime as _dt
        import decimal as _dec

        from mariadb_columnstore_engine_spark.functions.sqltrans import (
            _string_literal,
        )

        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, _dec.Decimal):
            # bare numeric literal (never scientific notation) so a
            # DECIMAL-typed value — e.g. a local assigned from
            # SELECT (60.0 + 8) — stays numeric, not a quoted string
            return format(v, "f")
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v}'"
        if isinstance(v, _dt.date):
            return f"DATE '{v}'"
        return _string_literal(str(v))

    # --- statement router --------------------------------------------

    def execute(self, stmt: str, *, dialect: str = "mariadb"):
        """Run ONE SQL statement of any supported kind.

        ``statements.parse`` classifies it and the handler registered
        for its ``kind`` runs it (≈ mysqld routing statements to the
        select handler vs DMLProc/DDLProc packages, SURVEY §3).
        SELECT/WITH/VALUES → DataFrame (via the dialect-translating query
        path). INSERT/REPLACE/UPDATE/DELETE → copy-on-write DML against
        an attached table, returning the table's new row count.
        Metadata statements return rows as lists, a scalar, or None.
        """
        parsed = st.parse(stmt)
        return _HANDLERS[parsed.kind](self, parsed, dialect)

    def _tsql(self, text: str, dialect: str) -> str:
        """Dialect-translate an expression fragment (a SET/WHERE/
        RETURNING fragment may use MariaDB spellings — CAST AS CHAR,
        DATE_ADD INTERVAL, TIME_TO_SEC — exactly like a SELECT)."""
        if dialect == "mariadb":
            from mariadb_columnstore_engine_spark.functions.sqltrans import (
                translate_statement,
            )

            return translate_statement(text)
        return text

    def _texpr(self, text: str, dialect: str):
        return F.expr(self._tsql(text, dialect))

    def _returning(self, source_df, exprs: list[str], dialect: str):
        """Materialize a RETURNING projection BEFORE the write swaps
        or appends files (the lineage must read the pre-write table
        state exactly once). RETURNING result sets are client-bound
        by definition (MariaDB streams them to the client), so the
        collect here is the protocol, not a scale hazard."""
        ret_df = source_df.selectExpr(*[self._tsql(e, dialect) for e in exprs])
        return self.spark.createDataFrame(ret_df.collect(), ret_df.schema)

    def _join_pred_sql(self, join: "st.JoinSpec", where: str | None) -> str:
        """Rewrite a multi-table UPDATE/DELETE's join into a
        single-table predicate on the target (mcs82/mcs83 MTR
        forms). A target row is affected iff SOME row of the join
        result contains it and satisfies WHERE — i.e. a semi-join:

          EXISTS (SELECT 1 FROM other WHERE on AND where)

        When the target is on the preserved side of an outer join,
        NULL-extended rows also reach WHERE with the other table's
        columns all NULL; that branch is expressed by evaluating
        WHERE against a literal all-NULL one-row relation aliased
        to the other table's name — no string surgery on the WHERE
        text, the resolver does the substitution.
        """
        other = join.table
        p = where or "TRUE"
        c = join.on
        inner = f"EXISTS (SELECT 1 FROM {other} WHERE ({c}) AND ({p}))"
        if not join.outer_target:
            return inner
        null_cols = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
            for f in self.spark.table(other).schema.fields
        )
        unmatched = (
            f"(NOT EXISTS (SELECT 1 FROM {other} WHERE ({c})) AND "
            f"EXISTS (SELECT 1 FROM (SELECT {null_cols}) AS {other} "
            f"WHERE ({p})))"
        )
        return f"({inner}) OR {unmatched}"

    # --- session user variables (@var) and prepared statements -------
    # MariaDB SET @x = expr / SELECT ... INTO @x / @x references — the
    # MTR scripts' state-carrying idiom (devregression uses `select
    # calflushcache() into @dummy` style throughout).

    def _bind_user_vars(self, text: str, *, strict: bool = True) -> str:
        """Substitute @variables as typed literals, mask-aware (an '@'
        inside a string literal never rewrites). ``strict`` refuses an
        unset variable; otherwise it is left in place."""
        from mariadb_columnstore_engine_spark.functions.sqltrans import (
            _mask,
            _unmask,
        )

        def sub(m):
            name = m.group(1)
            if name in self._user_vars:
                return self._render_uservar_literal(self._user_vars[name])
            if not strict:
                return m.group(0)
            raise ValueError(
                f"user variable @{name} is not set (note: inline "
                "@var := assignment is row-order-dependent and "
                "unsupported — use window functions)"
            )

        masked, store = _mask(text)
        return _unmask(re.sub(r"@(\w+)", sub, masked), store)

    @_handles("user_var_refs")
    def _user_var_refs(self, p, dialect):
        return self.execute(self._bind_user_vars(p.arg), dialect=dialect)

    @_handles("set_user_var")
    def _set_user_var(self, p, dialect):
        # SET @x = @x + 1 style: the RHS reads current values
        rhs = self._bind_user_vars(p.expr, strict=False)
        val = self.sql(f"SELECT ({rhs}) AS v", dialect=dialect).collect()[0][0]
        self._user_vars[p.name] = val
        return val

    @_handles("select_into_vars")
    def _select_into_vars(self, p, dialect):
        rows = self.sql(
            self._bind_user_vars(p.select_sql), dialect=dialect
        ).collect()
        if len(rows) != 1 or len(rows[0]) != len(p.names):
            raise ValueError(
                "SELECT INTO @vars needs exactly one row with "
                f"{len(p.names)} column(s), got {len(rows)} row(s)"
            )
        self._user_vars.update(zip(p.names, rows[0]))
        return list(rows[0])

    @_handles("prepare")
    def _prepare(self, p, dialect):
        if p.var is not None and p.var not in self._user_vars:
            raise ValueError(f"user variable @{p.var} is not set")
        self._prepared[p.name] = (
            p.text if p.var is None else str(self._user_vars[p.var])
        )
        return "Statement prepared"

    @_handles("execute_prepared")
    def _execute_prepared(self, p, dialect):
        """EXECUTE s [USING @a, ...]: ? placeholders are substituted
        mask-aware with typed literal rendering."""
        from mariadb_columnstore_engine_spark.functions.sqltrans import (
            _mask,
            _unmask,
        )

        if p.name not in self._prepared:
            raise ValueError(f"unknown prepared statement {p.name!r}")
        for name in p.using:
            if name not in self._user_vars:
                raise ValueError(f"user variable @{name} is not set")
        masked, store = _mask(self._prepared[p.name])
        n_slots = masked.count("?")
        if n_slots != len(p.using):
            raise ValueError(
                f"prepared statement has {n_slots} placeholder(s), "
                f"EXECUTE supplied {len(p.using)}"
            )
        it = iter(p.using)
        filled = re.sub(
            r"\?",
            lambda _m: self._render_uservar_literal(self._user_vars[next(it)]),
            masked,
        )
        return self.execute(_unmask(filled, store), dialect=dialect)

    @_handles("deallocate")
    def _deallocate(self, p, dialect):
        self._prepared.pop(p.arg, None)

    # --- session, client UDFs, table maintenance ----------------------

    @_handles("set_sysvar")
    def _set_sysvar(self, p, dialect):
        """SET <system variable> (mcs229_data_compression_type and the
        MTR preamble idioms). Real behavior where the engine has one
        (compression type → parquet write codec); documented no-ops for
        charset/engine-tuning knobs mysqld or Spark owns; honest errors
        for semantics-changing modes we cannot honor."""
        name = p.name
        val = p.value.strip().strip("'\"").lower()
        if name == "columnstore_compression_type":
            # reference codes (idbcompress.h): 0 none, 1/2 snappy, 3 lz4
            codec = {
                "0": "uncompressed", "1": "snappy", "2": "snappy",
                "3": "lz4", "snappy": "snappy", "lz4": "lz4",
                "none": "uncompressed",
            }.get(val)
            if codec is None:
                raise ValueError(
                    f"unknown compression type {val!r} (0=none, "
                    "1/2=snappy, 3=lz4 — idbcompress.h codes)"
                )
            self.spark.conf.set(
                "spark.sql.parquet.compression.codec", codec
            )
            self._sysvars[name] = val
            return None
        if name == "names":
            return None  # SET NAMES: every Spark string is UTF-8
        if name == "sql_mode":
            if val in ("", "''"):
                self._sysvars[name] = ""
                return None
            if str(val).strip().strip("'\"").upper() == "ORACLE":
                # r11: true Oracle-mode session support — the SELECT
                # path routes through sqltrans.oracle_mode_prepass
                # (infix || concat, DECODE NULL-matching, TRIM/REPLACE
                # empty→NULL), mirroring the reference's *_oracle
                # funcexp entries (utils/funcexp/func_concat.cpp etc.,
                # pinned by mysql-test/columnstore/oracle/*.result)
                self._sysvars[name] = "ORACLE"
                return None
            raise ValueError(
                "SET sql_mode with flags is not supported beyond "
                "ORACLE (other behavior-changing modes would silently "
                "mistranslate)"
            )
        if name.startswith(("columnstore_", "infinidb_")) or name in (
            "autocommit", "character_set_client", "character_set_results",
            "character_set_connection", "collation_connection",
            "max_allowed_packet", "net_write_timeout", "sql_log_bin",
            "unique_checks", "foreign_key_checks", "timestamp",
            "default_storage_engine", "storage_engine",
        ):
            # engine-tuning / protocol knobs mysqld or Spark owns —
            # stored for SHOW VARIABLES, note-level warning
            self._sysvars[name] = val
            self._warnings = [
                ("Note", 1105,
                 f"SET {name} accepted and stored; no engine behavior "
                 "is attached to it here")
            ]
            return None
        raise ValueError(
            f"unsupported system variable {name!r} (supported: "
            "columnstore_compression_type, sql_mode='', NAMES, and "
            "stored-only columnstore_*/protocol knobs)"
        )

    @_handles("show_variables")
    def _show_variables(self, p, dialect):
        svars = dict(self._sysvars)
        svars.setdefault(
            "columnstore_compression_type",
            {"uncompressed": "0", "snappy": "2", "lz4": "3"}.get(
                self.spark.conf.get(
                    "spark.sql.parquet.compression.codec", "snappy"
                ),
                "2",
            ),
        )
        if p.arg:
            import fnmatch

            rx = fnmatch.translate(p.arg.replace("%", "*").replace("_", "?"))
            svars = {
                k: v for k, v in svars.items()
                if re.match(rx, k, re.IGNORECASE)
            }
        return sorted(svars.items())

    @_handles("session_fn")
    def _session_fn(self, p, dialect):
        """Session information functions (mcs170_session_functions
        .test) and the client introspection UDFs
        (ha_mcs_client_udfs.cpp:260-960; basic/t/cal_named_udfs.test).
        USER == SESSION_USER == SYSTEM_USER == CURRENT_USER here (no
        proxy users in a single-user engine); CONNECTION_ID is stable
        for this Engine's lifetime; SCHEMA is the DATABASE alias;
        LAST_INSERT_ID is the first auto-generated id of the most
        recent INSERT batch (backed by the sidecar sequence)."""
        from mariadb_columnstore_engine_spark import __version__

        trace = self._last_trace

        def user():
            return f"{self.spark.sparkContext.sparkUser()}@localhost"

        def ready():
            try:
                self.spark.sql("SELECT 1").collect()
                return 1
            except Exception:
                return 0

        return {
            "calgetversion": lambda: (
                f"mcs-spark {__version__} (Spark {self.spark.version})"
            ),
            # mcs207_utility_functions: 0 = writable, 1 = read-only, 2 =
            # read-only because a PM is down. This engine has no
            # degraded-PM state; DML availability is per-table
            # (attached vs fixture), so system-wide it is writable.
            "mcssystemreadonly": lambda: 0,
            "mcssystemready": ready,
            "calgettrace": lambda: (
                trace or "no trace recorded — calsettrace(1) first"
            ),
            # summary counters for the last traced query
            "calgetstats": lambda: (
                "no stats — calsettrace(1) first" if trace is None else
                f"plan nodes: {trace.count('(')}; "
                f"exchanges: {trace.count('Exchange')}; "
                f"scans: {trace.count('Scan parquet')}"
            ),
            "database": lambda: self._current_db,
            "schema": lambda: self._current_db,
            "user": user,
            "session_user": user,
            "system_user": user,
            "current_user": user,
            "connection_id": os.getpid,
            "version": lambda: f"11.4.0-mcs-spark-{__version__}",
            "last_insert_id": lambda: self._last_insert_id,
        }[p.arg]()

    @_handles("calsettrace")
    def _calsettrace(self, p, dialect):
        self._trace = bool(int(p.arg))
        return int(p.arg)

    @_handles("show_warnings")
    def _show_warnings(self, p, dialect):
        # (level, code, message) rows of the last statement that
        # produced any; every DML statement resets them (_dml_target)
        return list(self._warnings)

    @_handles("show_table_status")
    def _show_table_status(self, p, dialect):
        from mariadb_columnstore_engine_spark.sources.maintenance import (
            layout_stats,
        )

        out = []
        for tname, info in sorted(self._user_tables.items()):
            stats = layout_stats(self.spark, info["path"])
            out.append({
                "name": tname,
                "engine": "mcs-spark",
                "data_length": stats["total_bytes"],
                "files": stats["n_files"],
            })
        return out

    @_handles("cal_partitions")
    def _cal_partitions(self, p, dialect):
        """Partition-management UDFs (dbcon/mysql/ha_mcs_partition
        .cpp:484-738; udf_calshowpartitions.test). Partition unit = data
        file (the extent analogue); ids are file names as printed by
        calshowpartitions."""
        from mariadb_columnstore_engine_spark.sources import (
            maintenance as maint,
        )

        mpath = self._writable(p.table)["path"]
        if p.verb == "show":
            if not p.arg:
                raise ValueError(
                    "calshowpartitions('table','column') needs a "
                    "column argument"
                )
            rows = maint.show_partitions(self.spark, mpath, p.arg)
            return "\n".join(["Part# Min Max Status"] + [
                f"{r['partition']} {r['min']} {r['max']} {r['status']}"
                for r in rows
            ])
        parts = [x.strip() for x in (p.arg or "").split(",") if x.strip()]
        if not parts:
            raise ValueError(
                f"cal{p.verb}partitions('table','p1,p2,...') needs a "
                "partition list"
            )
        if p.verb == "disable":
            maint.disable_partitions(mpath, parts)
            msg = "Partitions are disabled successfully"
        elif p.verb == "enable":
            maint.enable_partitions(mpath, parts)
            msg = "Partitions are enabled successfully"
        else:
            maint.drop_partitions(self.spark, mpath, parts)
            msg = "Partitions are deleted successfully"
        self._refresh(p.table)
        return msg

    @_handles("analyze_table")
    def _analyze_table(self, p, dialect):
        """ANALYZE TABLE t1[, t2 ...] (basic/t/analyze_table.test) — CBO
        statistics; attached user tables are temp views Spark cannot
        persist stats for, so their row count lands in the engine's
        table info instead (still drives broadcast decisions via AQE's
        runtime sizes)."""
        out = []
        for tname in p.tables:
            try:
                self.analyze(tname)
            except Exception:
                info = self._user_tables.get(tname)
                if info is None and tname not in TABLES:
                    out.append(
                        (tname, "analyze", "Error", "Table doesn't exist")
                    )
                    continue
                n_rows = self.table(tname).count()
                if info is not None:
                    info["row_count"] = n_rows
            out.append((tname, "analyze", "status", "OK"))
        return out

    @_handles("check_table", "optimize_table", "repair_table")
    def _check_table(self, p, dialect):
        """CHECK/OPTIMIZE/REPAIR TABLE: MariaDB-shaped status rows.
        CHECK actually verifies the table is readable (schema resolves
        + parquet footers open — the engine's analogue of an extent-map
        consistency walk). OPTIMIZE/REPAIR return the note mysqld emits
        for engines that handle these internally (ColumnStore does not
        support OPTIMIZE — ha_mcs returns HA_ADMIN_NOT_IMPLEMENTED and
        the server notes it) followed by an OK status row."""
        op = p.kind.split("_")[0]
        out = []
        for tname in p.tables:
            if tname not in self._user_tables and tname not in TABLES:
                out.append((tname, op, "Error", "Table doesn't exist"))
            elif op == "check":
                try:
                    self.table(tname).limit(1).collect()
                    out.append((tname, op, "status", "OK"))
                except Exception as e:  # noqa: BLE001 — reported
                    out.append((tname, op, "Error", str(e)[:120]))
            else:
                out.append((
                    tname,
                    op,
                    "note",
                    f"Table does not support {op}, doing recreate + "
                    "analyze instead"
                    if op == "optimize"
                    else "The storage engine for the table doesn't "
                    "support repair",
                ))
                out.append((tname, op, "status", "OK"))
        return out

    @_handles("checksum_table")
    def _checksum_table(self, p, dialect):
        """CHECKSUM TABLE t1[, t2 ...]: deterministic, row-order-
        independent content checksum (sum of per-row xxhash64 over all
        columns, mod 2^32 like MariaDB's counter width). The exact
        MariaDB CRC differs by design — this is an engine-defined
        checksum for copy/restore verification."""
        out = []
        for tname in p.tables:
            df = self.table(tname)
            # per-row hash folded to 32 bits BEFORE the sum, and the sum
            # carried in DECIMAL(38,0) — an int64 sum of 2^63-scale
            # hashes overflows (ANSI ArithmeticException)
            h = F.pmod(
                F.xxhash64(*[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
                    for c in df.columns
                ]),
                F.lit(2**32),
            ).cast("decimal(38,0)")
            row = df.select(
                F.pmod(F.sum(h), F.lit(2**32).cast("decimal(38,0)"))
                .alias("ck")
            ).collect()[0]
            out.append((tname, int(row.ck) if row.ck is not None else 0))
        return out

    @_handles("flush_tables")
    def _flush_tables(self, p, dialect):
        # FLUSH TABLES (MTR preamble idiom): re-read every attached
        # table's evolution sidecar + refresh its view — the real
        # cache-invalidation this engine has; read locks are
        # meaningless on an immutable-files engine
        for tname in list(self._user_tables):
            self._refresh(tname)

    @_handles("auth_noop")
    def _auth_noop(self, p, dialect):
        # parsed and accepted; no auth layer in a library engine (mysqld
        # owns accounts upstream of the reference too). Recorded as a
        # note-level warning.
        self._warnings = [
            ("Note", 1105,
             f"{p.arg} is a no-op: single-user engine, "
             "account management delegated to the host")
        ]

    @_handles("begin", "commit", "rollback")
    def _transaction(self, p, dialect):
        return getattr(self, p.kind)()

    # --- queries and metadata -----------------------------------------

    @_handles("select")
    def _select(self, p, dialect):
        if dialect != "mariadb":
            return self.sql(p.arg, dialect=dialect)
        q = self._handle_found_rows(p.arg, dialect)
        pa = self._handle_procedure_analyse(q, dialect)
        if pa is not None:
            return pa
        df = self.sql(q, dialect=dialect)
        if not self._found_rows_calc:
            # plain SELECT also updates FOUND_ROWS() in MariaDB (to the
            # count of rows RETURNED, i.e. post-LIMIT). Store the
            # DataFrame and count it LAZILY only if FOUND_ROWS() is
            # actually read — no per-statement count job.
            self._found_rows = df
        return df

    @_handles("do_expr")
    def _do_expr(self, p, dialect):
        self.sql(f"SELECT ({p.arg}) AS v", dialect=dialect).collect()

    @_handles("explain")
    def _explain(self, p, dialect):
        return self.explain(p.sql, mode=p.mode)

    @_handles("explain_analyze")
    def _explain_analyze(self, p, dialect):
        return self.explain_analyze(p.arg)

    @_handles("describe")
    def _describe(self, p, dialect):
        return self.describe(p.arg)

    @_handles("show_tables")
    def _show_tables(self, p, dialect):
        return sorted(set(TABLES) | set(self._user_tables))

    @_handles("show_create")
    def _show_create(self, p, dialect):
        cols = ",\n".join(f"  `{c}` {t}" for c, t in self.describe(p.arg))
        return f"CREATE TABLE `{p.arg}` (\n{cols}\n) USING parquet"

    @_handles("show_index")
    def _show_index(self, p, dialect):
        # MariaDB SHOW INDEX row shape (subset): (table, non_unique,
        # key_name, seq, column). ColumnStore has no secondary indexes —
        # the declared/attach keys are the only entries (extent min/max
        # is the real index)
        self.describe(p.arg)  # existence check
        keys = self._user_tables.get(p.arg, {}).get("keys") or []
        return [(p.arg, 0, "PRIMARY", i + 1, c) for i, c in enumerate(keys)]

    @_handles("create_view")
    def _create_view(self, p, dialect):
        return self.create_view(p.name, p.select_sql)

    @_handles("drop_view")
    def _drop_view(self, p, dialect):
        return self.drop_view(p.arg)

    @_handles("create_function")
    def _create_function(self, p, dialect):
        funcs = _session_sql_functions(self.spark)
        if p.name.lower() in funcs:
            # MariaDB: ER_SP_ALREADY_EXISTS unless OR REPLACE / IF NOT
            # EXISTS was given
            if p.mode == "ifnotexists":
                return None
            if p.mode != "replace":
                raise ValueError(
                    f"function {p.name!r} already exists "
                    "(use OR REPLACE or IF NOT EXISTS)"
                )
        # the body runs through the same dialect pass as any statement
        # (MariaDB functions inside stored functions)
        body_sql = re.sub(
            r"^SELECT\s+", "", self._tsql(f"SELECT {p.body}", dialect),
            count=1, flags=re.IGNORECASE,
        )
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {p.name} "
            f"({p.params}) RETURNS {p.returns} RETURN {body_sql}"
        )
        funcs.add(p.name.lower())

    @_handles("drop_function", "drop_function_if_exists")
    def _drop_function(self, p, dialect):
        # bookkeeping lives on the shared SparkSession (the temporary
        # function does too), so a second Engine on the same session
        # can DROP what the first created
        funcs = _session_sql_functions(self.spark)
        if p.arg.lower() not in funcs:
            if p.kind == "drop_function":
                raise ValueError(f"unknown function {p.arg!r}")
            return None
        self.spark.sql(f"DROP TEMPORARY FUNCTION {p.arg}")
        funcs.discard(p.arg.lower())

    # --- databases ------------------------------------------------------

    @_handles("create_db", "create_db_if_not_exists")
    def _create_db(self, p, dialect):
        if self.warehouse is None:
            raise ValueError("CREATE DATABASE needs Engine(warehouse=...)")
        if p.arg in self._databases:
            if p.kind == "create_db_if_not_exists":
                return None
            raise ValueError(f"database {p.arg!r} already exists")
        os.makedirs(os.path.join(self.warehouse, p.arg), exist_ok=True)
        self._databases.add(p.arg)

    @_handles("drop_db", "drop_db_if_exists")
    def _drop_db(self, p, dialect):
        import shutil

        if p.arg not in self._databases or p.arg == "default":
            if p.kind == "drop_db_if_exists":
                return None
            raise ValueError(f"database {p.arg!r} does not exist")
        if self._txn is not None:
            raise ValueError(
                "DROP DATABASE inside a transaction is not supported"
            )
        # drop every table registered under this database
        for tn, info in list(self._user_tables.items()):
            if info.get("db") == p.arg:
                shutil.rmtree(info["path"], ignore_errors=True)
                manifest.forget(info["path"])
                self.spark.catalog.dropTempView(tn)
                del self._user_tables[tn]
        shutil.rmtree(
            os.path.join(self.warehouse, p.arg), ignore_errors=True
        )
        self._databases.discard(p.arg)
        if self._current_db == p.arg:
            self._current_db = "default"

    @_handles("show_databases")
    def _show_databases(self, p, dialect):
        return sorted(self._databases)

    @_handles("use_db")
    def _use_db(self, p, dialect):
        if p.arg not in self._databases:
            raise ValueError(f"unknown database {p.arg!r}")
        self._current_db = p.arg

    # --- table DDL ------------------------------------------------------

    def _new_table_path(self, name: str, or_replace: bool) -> str:
        """Where CREATE TABLE [AS SELECT] materializes ``name``: under
        the warehouse, in the current database. CREATE OR REPLACE
        (MTR create_or_replace) first drops a USER table of that name —
        atomic-enough drop+create; fixtures stay protected."""
        if self.warehouse is None:
            raise ValueError(
                "CREATE TABLE needs Engine(warehouse=...) to know "
                "where to materialize"
            )
        if or_replace and name in self._user_tables:
            self.execute(f"DROP TABLE {name}")
        if name in TABLES or name in self._user_tables:
            raise ValueError(f"table {name!r} already exists")
        db = [] if self._current_db == "default" else [self._current_db]
        path = os.path.join(self.warehouse, *db, name)
        if os.path.exists(path):
            raise ValueError(f"table path already exists: {path}")
        return path

    @_handles("create_table_as")
    def _create_table_as(self, p, dialect):
        path = self._new_table_path(p.name, p.or_replace)
        df = self.sql(p.select_sql, dialect=dialect)
        df.write.mode("errorifexists").parquet(path)
        self.attach_table(p.name, path)
        return self.spark.table(p.name).count()

    @_handles("create_table")
    def _create_table(self, p, dialect):
        """The reference's primary DDL entry (ddl.y → createtable.cpp):
        declared schema, defaults, NOT NULL and CHECKs become an empty
        parquet table + sidecar metadata the DML layer enforces; PRIMARY
        KEY wires the upsert/REPLACE key."""
        from mariadb_columnstore_engine_spark.sources.ingest import (
            _evolution,
            _write_evolution,
            add_check_constraint,
        )

        path = self._new_table_path(p.name, p.or_replace)
        ddl = ", ".join(f"{c.name} {c.dtype}" for c in p.columns)
        schema = self.spark.createDataFrame([], ddl).schema
        self.spark.createDataFrame([], schema).repartition(1)\
            .write.parquet(path)
        meta = {
            "defaults": {
                c.name: c.default for c in p.columns if c.default is not None
            },
            # declared per-column collations (collation.h analogue):
            # recorded in the sidecar and applied on every read, so =,
            # GROUP BY, ORDER BY, JOIN honor them without per-query
            # wrappers (ctype_cmp_* MTR matrices)
            "collations": {
                c.name: c.collation for c in p.columns
                if c.collation is not None
            },
            # ≈ BRM's autoincrement manager: a per-table sequence counter
            # in catalog metadata (the sidecar); INSERT assigns from it
            # and bumps it past the table max
            "autoinc": p.auto_increment and {
                "column": p.auto_increment, "next": 1
            },
        }
        meta = {k: v for k, v in meta.items() if v}
        if meta:
            _write_evolution(path, {**_evolution(path), **meta})
        for c in p.columns:
            if not c.nullable:
                add_check_constraint(
                    path, f"{c.name}_not_null", f"{c.name} IS NOT NULL"
                )
        for cname, cexpr in p.checks:
            add_check_constraint(path, cname, self._tsql(cexpr, dialect))
        self.attach_table(p.name, path, keys=p.primary_key or None)
        self._user_tables[p.name]["db"] = self._current_db
        return 0

    @_handles("drop_table", "drop_table_if_exists")
    def _drop_table(self, p, dialect):
        import shutil

        info = self._user_tables.get(p.arg)
        if info is None:
            if p.kind == "drop_table_if_exists":
                return None
            raise ValueError(
                f"{p.arg!r} is not an attached user table "
                "(catalog fixture tables cannot be dropped)"
            )
        if self._txn is not None:
            raise ValueError(
                "DROP TABLE inside a transaction is not "
                "supported (snapshots reference the directory)"
            )
        shutil.rmtree(info["path"], ignore_errors=True)
        manifest.forget(info["path"])
        del self._user_tables[p.arg]
        self.spark.catalog.dropTempView(p.arg)

    @_handles("rename_table")
    def _rename_table(self, p, dialect):
        self._writable(p.old)
        if self._txn is not None:
            raise ValueError(
                "RENAME TABLE inside a transaction is not "
                "supported (snapshots are keyed by table name)"
            )
        if p.new in self._user_tables or p.new in TABLES:
            raise ValueError(f"table {p.new!r} already exists")
        # metadata-only rename: the directory stays put (the reference's
        # RENAME is likewise a catalog update)
        self._user_tables[p.new] = self._user_tables.pop(p.old)
        self.spark.catalog.dropTempView(p.old)
        self._refresh(p.new)

    @_handles("index_noop")
    def _index_noop(self, p, dialect):
        # index DDL accepted, nothing stored (mcs73: parquet row-group
        # min/max is the extent-map index analogue)
        self._writable(p.arg)

    @_handles("add_primary_key")
    def _add_primary_key(self, p, dialect):
        self._writable(p.table)["keys"] = list(p.columns)

    @_handles("alter")
    def _alter(self, p, dialect):
        from mariadb_columnstore_engine_spark.sources.ingest import (
            add_check_constraint,
            alter_add_column,
            alter_add_generated_column,
            alter_drop_column,
            alter_modify_column,
            alter_rename_column,
        )

        path = self._writable(p.table)["path"]
        if p.action == "drop_partition":
            # hive-directory partition drop ≈ droppartition.cpp's
            # extent-marking: O(1) metadata/directory removal, no scan
            # or rewrite of surviving partitions
            import shutil

            pdir = os.path.join(path, *p.segments)
            if not os.path.isdir(pdir):
                raise ValueError(
                    f"partition {'/'.join(p.segments)} does not exist"
                )
            shutil.rmtree(pdir)
        elif p.action == "add":
            alter_add_column(
                path, p.column, p.dtype, p.default, after=p.after
            )
        elif p.action == "add_generated":
            # sidecar expressions are re-parsed by plain F.expr on every
            # read — store them in Spark dialect (translated once here)
            alter_add_generated_column(
                path, p.column, self._tsql(p.expr, dialect)
            )
        elif p.action == "add_check":
            add_check_constraint(path, p.column, self._tsql(p.expr, dialect))
        elif p.action == "rename_col":
            alter_rename_column(path, p.column, p.expr)
        elif p.action == "modify_col":
            alter_modify_column(path, p.column, p.dtype)
        elif p.action == "change_col":
            # rename first, then retype the NEW name — read-side applies
            # renames before retypes, so the retype entry must reference
            # the post-rename spelling
            if p.expr != p.column:
                alter_rename_column(path, p.column, p.expr)
            alter_modify_column(path, p.expr, p.dtype)
        elif p.action == "drop":
            alter_drop_column(path, p.column)
        else:
            raise AssertionError(f"unroutable ALTER action: {p.action!r}")
        self._refresh(p.table)

    # --- data in and out --------------------------------------------------

    @_handles("select_into_outfile")
    def _select_into_outfile(self, p, dialect):
        """Server-side bulk export: ONE delimited file, exactly the INTO
        OUTFILE contract (single-file output is inherently a coalesce(1)
        — export parallelism belongs to df.write.csv on a directory,
        which sources.ingest covers)."""
        import glob
        import shutil
        import tempfile

        if os.path.exists(p.path):
            # MariaDB refuses to overwrite
            raise ValueError(f"OUTFILE already exists: {p.path}")
        df = self.sql(p.select_sql, dialect=dialect)
        tmp = tempfile.mkdtemp(prefix="mcs_outfile_")
        try:
            d = os.path.join(tmp, "d")
            w = (
                df.coalesce(1)
                .write.option("delimiter", p.delimiter)
                .option("quote", p.quote)
                .option("header", "false")
            )
            if p.line_sep:
                w = w.option("lineSep", p.line_sep)
            w.csv(d)
            part = glob.glob(os.path.join(d, "part-*"))[0]
            shutil.move(part, p.path)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return self.spark.read.text(p.path).count()

    # --- DML: the steps INSERT, LOAD DATA, UPDATE and DELETE share -----

    def _dml_target(self, table: str) -> dict:
        """Open a statement that writes ``table``; its attach info.
        MariaDB resets the warning list at every statement that uses a
        table, so the previous statement's warnings go here."""
        self._warnings = []
        return self._writable(table)

    def _append(self, path: str, df, rows: bool = False) -> int:
        """Append ``df`` as new files; the table's row count after.
        ``rows``: ``df`` is a literal row set (INSERT … VALUES), which
        ``append_rows`` writes without a Spark job where its plan,
        the table layout and the column types allow, else Spark writes
        it as one file."""
        from mariadb_columnstore_engine_spark.sources.ingest import (
            append_rows,
            strip_collations,
        )

        before = manifest.state(self.spark, path)
        df = strip_collations(df)
        if not (rows and append_rows(self.spark, path, df, before)):
            # a VALUES list is a LocalRelation split across up to
            # nproc slices: one file, not one per row
            (df.coalesce(1) if rows else df).write.mode("append").parquet(
                path
            )
        return manifest.record(self.spark, path, before).rows

    def _dml_pred(self, p, info: dict, dialect: str):
        """The rows an UPDATE/DELETE touches, as a predicate Column:
        ORDER BY .. LIMIT becomes a key predicate, a JOIN a semi-join."""
        if p.limit is not None:
            p.where = self._ordered_limit_where(p, info)
        if p.join is not None:
            return self._texpr(self._join_pred_sql(p.join, p.where), dialect)
        return self._texpr(p.where, dialect) if p.where else F.lit(True)

    def _pre_image(self, table: str, path: str, pred=None):
        """The table before the write, through the evolution sidecar and
        addressable by its name (correlated predicates spell t.col);
        with ``pred``, only the rows it makes strictly TRUE."""
        from mariadb_columnstore_engine_spark.sources.ingest import (
            read_table_evolved,
        )

        df = read_table_evolved(self.spark, path).alias(table)
        return df if pred is None else df.where(F.coalesce(pred, F.lit(False)))

    def _dml_done(self, table: str, event: str, affected, dialect: str,
                  result):
        """Close a DML statement: refresh the table's view, then run its
        AFTER ``event`` triggers over ``affected`` (None: none fire)."""
        self._refresh(table)
        self._fire_after_triggers(table, event, affected, dialect)
        return result

    @_handles("truncate")
    def _truncate(self, p, dialect):
        path = self._dml_target(p.arg)["path"]
        n = dml.delete_where(self.spark, path, F.lit(True))
        # TRUNCATE fires no DELETE triggers (MariaDB)
        return self._dml_done(p.arg, "DELETE", None, dialect, n)

    @_handles("load_data")
    def _load_data(self, p, dialect):
        """cpimport/LDI SQL spelling: file columns map positionally to
        the table's non-generated columns; generated columns are
        computed, CHECKs enforced — same contract as INSERT."""
        import shutil
        import tempfile

        from mariadb_columnstore_engine_spark.sources.ingest import (
            _evolution,
            bulk_load_csv,
            validate_checks,
        )

        path = self._dml_target(p.table)["path"]
        target = self._pre_image(p.table, path)
        evo = _evolution(path)
        gen = {c["name"]: c["expr"] for c in evo.get("generated", [])}
        file_fields = [f for f in target.schema.fields if f.name not in gen]
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in file_fields
        )
        tmp = tempfile.mkdtemp(prefix="mcs_ldi_")
        try:
            if p.path.endswith(".parquet"):
                # mcol-5505 cpimport-parquet: LDI of a parquet file —
                # columns map POSITIONALLY like the delimited path
                # (cpimport contract), types re-cast below
                pq_src = manifest.read_parquet(self.spark, [p.path])[0]
                if len(pq_src.columns) != len(file_fields):
                    raise ValueError(
                        f"parquet file has {len(pq_src.columns)} "
                        f"columns for {len(file_fields)} loadable "
                        "table columns"
                    )
                src = pq_src.toDF(*[f.name for f in file_fields])
            else:
                dest = os.path.join(tmp, "staged")
                bulk_load_csv(
                    self.spark, p.path, schema_ddl, dest, header=False,
                    delimiter=p.delimiter, quote=p.quote, escape=p.escape,
                    line_sep=p.line_sep, skip_rows=p.skip_rows,
                )
                src = manifest.read_parquet(self.spark, [dest])[0]
            out = src.select(*[
                _cast(
                    F.expr(gen[f.name]) if f.name in gen else F.col(f.name),
                    f.dataType,
                ).alias(f.name)
                for f in target.schema.fields
            ])
            validate_checks(out, evo.get("checks", []))
            n = self._append(path, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # LOAD DATA fires no triggers
        return self._dml_done(p.table, "INSERT", None, dialect, n)

    @_handles("insert")
    def _insert(self, p, dialect):
        from mariadb_columnstore_engine_spark.sources.ingest import (
            _evolution,
            _write_evolution,
            validate_checks,
        )

        info = self._dml_target(p.table)
        path = info["path"]
        src = self.sql(p.source_sql, dialect=dialect)
        local_src = (
            src._jdf.queryExecution().analyzed().getClass()
            .getSimpleName() == "LocalRelation"
        )
        # logical schema (through the evolution sidecar), not the
        # physical file schema — else an instant-ALTER-added column
        # named in the INSERT would be silently dropped
        target = self._pre_image(p.table, path)
        cols = p.columns or [f.name for f in target.schema.fields]
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT provides {len(src.columns)} columns for "
                f"{len(cols)} target columns"
            )
        evo = _evolution(path)
        gen = {c["name"]: c["expr"] for c in evo.get("generated", [])}
        if set(cols) & set(gen):
            raise ValueError(
                f"cannot INSERT into generated column(s) "
                f"{sorted(set(cols) & set(gen))}"
            )
        # missing columns → declared DEFAULT if any (CREATE TABLE
        # column defs), generated ones → their expression, else NULL;
        # everything cast to the target type
        dflt = evo.get("defaults", {})
        named = src.toDF(*cols)
        out = named.select(*[
            _cast(
                named[f.name] if f.name in cols
                else F.expr(gen[f.name]) if f.name in gen
                else F.lit(dflt.get(f.name)),
                f.dataType,
            ).alias(f.name)
            for f in target.schema.fields
        ])
        # BEFORE INSERT triggers (mcs60): bodies compile to ONE
        # per-column projection applied to the whole incoming
        # relation — set-based, codegen'd, no per-row procedure.
        # Fires before AUTO_INCREMENT assignment (the trigger sees
        # NULL in the autoinc column, as mysqld's sees 0) and
        # before CHECK validation (MariaDB applies constraints to
        # the trigger-rewritten row).
        for trg in self._table_triggers(p.table, "BEFORE", "INSERT"):
            from mariadb_columnstore_engine_spark.sources.triggers import (
                compile_before_transform,
            )

            tf = compile_before_transform(trg.body, out.columns)
            out = out.select(*[
                _cast(self._texpr(tf[f.name], dialect), f.dataType)
                .alias(f.name)
                if f.name in tf else F.col(f.name)
                for f in target.schema.fields
            ])
        ai = evo.get("autoinc")
        if ai:
            # AUTO_INCREMENT assignment (BRM autoincrement-manager
            # analogue): omitted or NULL values draw from the stored
            # counter, the row at position i (in statement order)
            # taking next + i; explicit values pass through and push
            # the counter past them (MariaDB semantics, gaps allowed).
            from pyspark.sql import Window

            acol = ai["column"]
            # VALUES rows are numbered in the driver: the optimizer
            # evaluates a projection over a LocalRelation as one
            # partition, where monotonically_increasing_id() is the
            # row's position, and as_local fixes the result
            local = ingest.as_local(
                out.withColumn(_ROW, F.monotonically_increasing_id())
            )
            if local is not None:
                out, pos = local, F.col(_ROW)
            else:
                # a sequence over distributed rows is a serialization
                # point: the row_number window makes the batch one
                # partition (at bulk-load scale use explicit keys, as
                # the reference's cpimport reserves one range per
                # import)
                pos = F.row_number().over(
                    Window.orderBy(F.monotonically_increasing_id())
                ) - 1
            if not out.where(F.col(acol).isNull()).isEmpty():
                # LAST_INSERT_ID(): first auto-generated value of
                # the batch (MariaDB contract)
                self._last_insert_id = int(ai["next"])
            out = out.withColumn(
                acol,
                F.when(
                    F.col(acol).isNull(),
                    (F.lit(int(ai["next"])) + pos).cast(
                        target.schema[acol].dataType
                    ),
                ).otherwise(F.col(acol)),
            ).drop(_ROW)
        checks = evo.get("checks", [])
        if not p.ignore:
            validate_checks(out, checks)
        elif checks:
            # INSERT IGNORE (mcol641-insert semantics): rows violating
            # any CHECK are skipped instead of failing the statement.
            # Documented deviation: MariaDB fills an implicit default
            # for NOT NULL violations; here NOT NULL is modelled as a
            # CHECK, so such rows are skipped too (deterministic, no
            # silent zero-fill).
            n_skipped = ingest.check_violations(out, checks)[1]
            for c in checks:
                out = out.where(F.coalesce(F.expr(c["expr"]), F.lit(True)))
            if n_skipped:
                self._warnings = [(
                    "Warning",
                    4025,  # MariaDB CONSTRAINT_FAILED code
                    f"{n_skipped} row(s) skipped: CHECK constraint "
                    "violated (INSERT IGNORE)",
                )]
        ret = (
            self._returning(out, p.returning, dialect)
            if p.returning else None
        )
        if self._table_triggers(p.table, "AFTER", "INSERT"):
            # materialize the inserted relation BEFORE the append: an
            # INSERT .. SELECT reading the target table itself would
            # otherwise re-scan post-write files when the AFTER body
            # re-executes the lineage
            out = out.localCheckpoint(eager=True)
        if p.replace or p.on_dup_update:
            if not info["keys"]:
                raise ValueError(
                    "REPLACE INTO / ON DUPLICATE KEY UPDATE need "
                    "attach_table(keys=[...])"
                )
            if p.replace:
                n = dml.replace_into(self.spark, path, out, info["keys"])
            else:
                # general-expression entries run through the dialect
                # translator (IF()/IFNULL/... inside update
                # expressions); take-new entries pass through as plain
                # column names
                n = dml.upsert_into(
                    self.spark, path, out, info["keys"],
                    update_cols=[
                        (e[0], self._tsql(e[1], dialect))
                        if isinstance(e, tuple) else e
                        for e in p.on_dup_update
                    ],
                )
            # the copy-on-write swap rewrote the sidecar
            evo = _evolution(path)
        else:
            n = self._append(path, out, rows=local_src)
        if ai:
            # counter = table max + 1 (covers both assigned and explicit
            # values), from the footers' max statistics; a scan only
            # when a row group has none (and is not all NULL)
            stats = maintenance.extent_map(self.spark, path, [ai["column"]])
            if all(e["max"] is not None or e["null_count"] == e["num_rows"]
                   for e in stats):
                mx = max((e["max"] for e in stats if e["max"] is not None),
                         default=None)
            else:
                mx = (
                    self.spark.read.schema(
                        manifest.state(self.spark, path).schema
                    )
                    .parquet(path)
                    .agg(F.max(ai["column"]))
                    .first()[0]
                )
            evo["autoinc"] = {
                "column": ai["column"],
                "next": int(mx) + 1 if mx is not None else int(ai["next"]),
            }
            _write_evolution(path, evo)
        # AFTER INSERT triggers run once per STATEMENT over the
        # inserted-rows relation (audit-table pattern as a single
        # INSERT..SELECT; IF blocks quantify existentially)
        return self._dml_done(
            p.table, "INSERT", out, dialect, ret if ret is not None else n
        )

    @_handles("update")
    def _update(self, p, dialect):
        from mariadb_columnstore_engine_spark.sources.ingest import (
            _evolution,
            validate_checks,
        )

        info = self._dml_target(p.table)
        path = info["path"]
        if p.join is not None:
            for c, e in p.assignments.items():
                if re.search(rf"\b{re.escape(p.join.table)}\s*\.", e):
                    raise ValueError(
                        "UPDATE JOIN assignments may reference only the "
                        f"target table's columns; {c!r} uses "
                        f"{p.join.table!r} (multi-match value choice is "
                        "nondeterministic on a distributed engine)"
                    )
        pred = self._dml_pred(p, info, dialect)
        evo = _evolution(path)
        gen_cols = {c["name"] for c in evo.get("generated", [])}
        if set(p.assignments) & gen_cols:
            raise ValueError(
                "cannot UPDATE generated column(s) "
                f"{sorted(set(p.assignments) & gen_cols)}"
            )
        # BEFORE UPDATE triggers compose into the assignment map: NEW.x
        # starts as the user's assigned expression (or the old value),
        # OLD.x is the bare column — everything evaluates against the
        # PRE-update row in one projection (mcs60 trg2 shape, set-based)
        btrgs = self._table_triggers(p.table, "BEFORE", "UPDATE")
        tbl_cols = self._pre_image(p.table, path).columns
        assign_sql = dict(p.assignments)
        if btrgs:
            from mariadb_columnstore_engine_spark.sources.triggers import (
                compile_before_transform,
            )

            env = {c.lower(): f"`{c}`" for c in tbl_cols}
            for c, e in p.assignments.items():
                env[c.lower()] = f"({e})"
            for trg in btrgs:
                tf = compile_before_transform(trg.body, tbl_cols, base_env=env)
                for c2, e2 in tf.items():
                    env[c2.lower()] = f"({e2})"
            case_map = {c.lower(): c for c in tbl_cols}
            assign_sql = {
                case_map[cl]: e
                for cl, e in env.items()
                if e != f"`{case_map[cl]}`"
            }
        affected = None
        if self._table_triggers(p.table, "AFTER", "UPDATE"):
            # pre-image + post-image relation, materialized BEFORE the
            # copy-on-write rewrite invalidates the file scan
            affected = self._pre_image(p.table, path, pred).select(
                *[
                    (
                        self._texpr(assign_sql[c], dialect)
                        if c in assign_sql else F.col(c)
                    ).alias(c)
                    for c in tbl_cols
                ],
                *[F.col(c).alias(f"__old_{c}") for c in tbl_cols],
            ).localCheckpoint(eager=True)
        checks = evo.get("checks", [])
        if checks:
            # reject BEFORE rewriting (MariaDB refuses the statement;
            # there is no rollback here to lean on): preview the
            # post-update rows with the same CASE WHEN the DML layer
            # applies, through the LOGICAL schema so checks/assignments
            # referencing sidecar-added or generated columns resolve
            preview = self._pre_image(p.table, path)
            for c, e in assign_sql.items():
                preview = preview.withColumn(
                    c,
                    F.when(
                        F.coalesce(pred, F.lit(False)),
                        self._texpr(e, dialect),
                    ).otherwise(F.col(c)),
                )
            for g in evo.get("generated", []):
                preview = preview.withColumn(g["name"], F.expr(g["expr"]))
            validate_checks(preview, checks)
        n = dml.update_where(
            self.spark,
            path,
            pred,
            {c: self._texpr(e, dialect) for c, e in assign_sql.items()},
            alias=p.table,
        )
        return self._dml_done(p.table, "UPDATE", affected, dialect, n)

    @_handles("delete")
    def _delete(self, p, dialect):
        info = self._dml_target(p.table)
        path = info["path"]
        pred = self._dml_pred(p, info, dialect)
        triggered = self._table_triggers(
            p.table, "AFTER", "DELETE"
        ) or self._table_triggers(p.table, "BEFORE", "DELETE")
        # the rows DELETE will remove = predicate strictly TRUE
        doomed = (
            self._pre_image(p.table, path, pred)
            if p.returning or triggered else None
        )
        ret = (
            self._returning(doomed, p.returning, dialect)
            if p.returning else None
        )
        affected = None
        if triggered:
            # pre-image relation (OLD.x → __old_x), materialized
            # BEFORE the rewrite removes the scanned files
            affected = doomed.select(
                *[F.col(c).alias(f"__old_{c}") for c in doomed.columns]
            ).localCheckpoint(eager=True)
        # BEFORE DELETE bodies fire while the doomed rows are still in
        # the table (audit reads see pre-delete state)
        self._fire_after_triggers(
            p.table, "DELETE", affected, dialect, timing="BEFORE"
        )
        n = dml.delete_where(self.spark, path, pred, alias=p.table)
        return self._dml_done(
            p.table, "DELETE", affected, dialect,
            ret if ret is not None else n,
        )

    def _handle_found_rows(self, q: str, dialect: str) -> str:
        """MariaDB pagination idiom (sql_class FOUND_ROWS): a SELECT
        with the SQL_CALC_FOUND_ROWS option records its PRE-LIMIT row
        count; a later ``SELECT FOUND_ROWS()`` reads it. The count is
        computed here as a separate count() job on the LIMIT-stripped
        statement — the same extra work mysqld does by scanning past
        the LIMIT, expressed set-based (a count aggregate prunes to a
        metadata-only/scan-light plan, strictly cheaper than mysqld's
        full row scan). FOUND_ROWS() references substitute the stored
        value as a literal (mask-aware). A plain SELECT (no
        SQL_CALC_FOUND_ROWS) also updates the session value in MariaDB
        — to the post-LIMIT count of rows returned; the execute() path
        stores that statement's DataFrame and the count job runs
        LAZILY here, only when FOUND_ROWS() is actually read."""
        from mariadb_columnstore_engine_spark.functions.sqltrans import (
            _mask,
            _top_level_search,
            _unmask,
        )

        masked, store = _mask(q)
        # FOUND_ROWS() reads the PREVIOUS statement's recorded count
        if re.search(r"\bFOUND_ROWS\s*\(\s*\)", masked, re.IGNORECASE):
            fr = self._found_rows
            if not isinstance(fr, int):  # lazy plain-SELECT DataFrame
                fr = fr.count()
                self._found_rows = fr
            val = int(fr)
            masked = re.sub(
                r"\bFOUND_ROWS\s*\(\s*\)",
                f"CAST({val} AS BIGINT)",
                masked,
                flags=re.IGNORECASE,
            )
        calc = _top_level_search(
            r"\bSQL_CALC_FOUND_ROWS\b", masked
        )
        self._found_rows_calc = bool(calc)
        if calc:
            masked = (
                masked[: calc.start()] + masked[calc.end():]
            )
            unlimited = re.sub(
                r"\bLIMIT\s+\d+(\s*,\s*\d+)?(\s+OFFSET\s+\d+)?\s*$",
                "",
                masked.strip(),
                flags=re.IGNORECASE,
            )
            self._found_rows = self.sql(
                _unmask(unlimited, store), dialect=dialect
            ).count()
        return _unmask(masked, store)

    def _handle_procedure_analyse(self, q: str, dialect: str):
        """MariaDB ``SELECT … PROCEDURE ANALYSE([max_elems[, max_mem]])``
        (sql/sql_analyse.cc): per-output-column profiling rows —
        min/max value, min/max length, empties-or-zeros, NULLs, average
        (numeric) or average length (string). Re-expressed set-based:
        ONE aggregate pass over the inner SELECT computes every
        column's stats in parallel (mysqld streams rows through a
        per-column analyser — same numbers, one distributed pass).
        Returns None when the statement carries no PROCEDURE clause.
        The optional arguments (optimal-fieldtype report tuning) are
        accepted and ignored — the stats columns are the useful,
        deterministic part."""
        from mariadb_columnstore_engine_spark.functions.sqltrans import (
            _find_balanced,
            _mask,
            _top_level_search,
            _unmask,
        )

        masked, store = _mask(q)
        pm = _top_level_search(
            r"\bPROCEDURE\s+ANALYSE\s*\(", masked
        )
        if not pm:
            return None
        open_at = masked.index("(", pm.end() - 1)
        end = _find_balanced(masked, open_at)
        if masked[end:].strip(" ;"):
            raise ValueError(
                "PROCEDURE ANALYSE must be the final clause"
            )
        inner = _unmask(masked[: pm.start()].strip(), store)
        df = self.sql(inner, dialect=dialect)
        aggs = []
        num_types = (
            "tinyint", "smallint", "int", "bigint", "float",
            "double", "decimal",
        )
        metas = []
        for f in df.schema.fields:
            c = F.col(f.name)
            s = c.cast("string")
            is_num = f.dataType.simpleString().split("(")[0] in num_types
            metas.append((f.name, is_num))
            # numeric columns: min/max on the NATIVE type, cast the
            # aggregated result to string (sql_analyse.cc tracks
            # numeric extremes numerically — a string min over {2, 10}
            # would report '10' as the minimum)
            mn = F.min(c).cast("string") if is_num else F.min(s)
            mx = F.max(c).cast("string") if is_num else F.max(s)
            aggs += [
                mn.alias(f"{f.name}__min"),
                mx.alias(f"{f.name}__max"),
                F.min(F.length(s)).alias(f"{f.name}__minlen"),
                F.max(F.length(s)).alias(f"{f.name}__maxlen"),
                F.sum(
                    F.when(
                        (s == "") | (s == "0")
                        | (s.try_cast("double") == 0),
                        1,
                    ).otherwise(0)
                ).alias(f"{f.name}__zero"),
                F.sum(c.isNull().cast("long")).alias(f"{f.name}__null"),
                (
                    F.round(F.avg(c.cast("double")), 4)
                    if is_num
                    else F.round(F.avg(F.length(s)), 4)
                ).alias(f"{f.name}__avg"),
            ]
        row = df.agg(*aggs).collect()[0]
        out = [
            (
                name,
                row[f"{name}__min"],
                row[f"{name}__max"],
                row[f"{name}__minlen"],
                row[f"{name}__maxlen"],
                int(row[f"{name}__zero"] or 0),
                int(row[f"{name}__null"] or 0),
                row[f"{name}__avg"],
            )
            for name, _ in metas
        ]
        return self.spark.createDataFrame(
            out,
            "Field_name string, Min_value string, Max_value string,"
            " Min_length int, Max_length int, Empties_or_zeros bigint,"
            " Nulls bigint, Avg_value_or_avg_length double",
        )

    def _quiet_analyzer_errors(self):
        """Context manager: silence the JVM SQLQueryContextLogger for
        the duration (the error-driven repair loop deliberately
        triggers AnalysisExceptions it then fixes; their ERROR log
        lines are pure noise — the exception object still propagates
        for genuine failures). Best-effort: logging config varies, a
        failure to adjust levels must never affect execution.

        The log4j handles are resolved once per Engine: py4j resolves
        ``jvm.org.apache.logging…`` one package segment per round trip,
        so each statement pays only the level read, set and restore."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            prev = handles = None
            try:
                handles = self._log4j_handles()
                if handles:
                    logger, set_level, off = handles
                    prev = logger.getLevel()
                    set_level("SQLQueryContextLogger", off)
            except Exception:  # noqa: BLE001 — logging is optional
                prev = None
            try:
                yield
            finally:
                if prev is not None:
                    try:
                        handles[1]("SQLQueryContextLogger", prev)
                    except Exception:  # noqa: BLE001
                        pass

        return _cm()

    def _log4j_handles(self):
        """(SQLQueryContextLogger, Configurator.setLevel, Level.OFF),
        resolved on first use; False where log4j is not reachable."""
        if self._log4j is None:
            try:
                log4j = self.spark._jvm.org.apache.logging.log4j
                self._log4j = (
                    log4j.LogManager.getLogger("SQLQueryContextLogger"),
                    log4j.core.config.Configurator.setLevel,
                    log4j.Level.OFF,
                )
            except Exception:  # noqa: BLE001 — logging is optional
                self._log4j = False
        return self._log4j

    def _ordered_limit_where(self, parsed, info: dict) -> str:
        """Rewrite MariaDB's row-path ``UPDATE/DELETE … ORDER BY …
        LIMIT n`` (dbcon/dmlpackage/dml.y) into the set-based
        key-predicate form. Deterministic only when the ordering is a
        total order, which we require structurally: every column of a
        declared unique key must appear in the ORDER BY list. The
        rewrite targets exactly the first n rows in that order:

            WHERE (k1, …) IN (SELECT k1, … FROM t [WHERE w]
                              ORDER BY … LIMIT n)

        Scale note: the subquery is a top-n over the key columns only
        (column-pruned scan + TakeOrderedAndProject), broadcast back
        into the rewrite predicate by Spark's subquery machinery."""
        keys = info.get("keys") or []
        refusal = (
            "UPDATE/DELETE with ORDER BY ... LIMIT is row-order-"
            "dependent; it is accepted only when ORDER BY covers a "
            "unique key declared via attach_table(keys=[...]) — "
            "otherwise rewrite to a key predicate (WHERE key IN "
            "(SELECT key ... ORDER BY ... LIMIT n))"
        )
        if not keys:
            raise ValueError(refusal)
        ob_cols = {
            re.sub(
                r"\s+(ASC|DESC)\s*$", "", part.strip(),
                flags=re.IGNORECASE,
            ).strip().strip("`").rsplit(".", 1)[-1].lower()
            for part in parsed.order_by.split(",")
        }
        if not {k.lower() for k in keys} <= ob_cols:
            raise ValueError(refusal)
        key_list = ", ".join(keys)
        sub = f"SELECT {key_list} FROM {parsed.table}"
        if parsed.where:
            sub += f" WHERE ({parsed.where})"
        sub += f" ORDER BY {parsed.order_by} LIMIT {parsed.limit}"
        lhs = keys[0] if len(keys) == 1 else f"({key_list})"
        return f"{lhs} IN ({sub})"

    def analyze(self, name: str, columns: list[str] | None = None) -> None:
        """Compute CBO statistics for a (catalog) table — see
        sources.ingest.analyze_table for the temp-view caveat."""
        from mariadb_columnstore_engine_spark.sources.ingest import (
            analyze_table,
        )

        analyze_table(self.spark, name, columns)

    def explain(self, query: str, *, mode: str = "formatted") -> str:
        """Physical (or, with mode="extended", logical+physical) plan
        for a SQL statement (EXPLAIN [EXTENDED] spelling routed here)."""
        df = self.sql(query)
        jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
        return df._jdf.queryExecution().explainString(
            jmode.fromString(mode)
        )

    def explain_analyze(self, query: str) -> str:
        """MariaDB ``ANALYZE SELECT ...``: EXECUTE the statement, then
        return the physical plan with RUNTIME metrics populated (actual
        row counts per operator ≈ ANALYZE's r_rows; Spark SQL metrics
        render inline after execution). The result rows are discarded —
        the product is the instrumented plan, as in the server."""
        df = self.sql(query)
        df.foreach(lambda _row: None)  # execute fully, keep nothing
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        metrics = []
        try:  # AQE wraps the plan; pull per-node metric values
            node = qe.executedPlan()
            if node.toString().startswith("AdaptiveSparkPlan"):
                node = node.executedPlan()
            stack = [node]
            while stack:
                n = stack.pop()
                mm = n.metrics()
                names = mm.keys().iterator()
                vals = []
                while names.hasNext():
                    k = names.next()
                    vals.append(f"{k}={mm.get(k).get().value()}")
                if vals:
                    metrics.append(
                        f"{n.nodeName()}: " + ", ".join(sorted(vals))
                    )
                it = n.children().iterator()
                while it.hasNext():
                    stack.append(it.next())
                # AQE query stages report NO children() — their subtree
                # hangs off .plan() instead
                try:
                    stack.append(n.plan())
                except Exception:  # noqa: BLE001 — not a stage node
                    pass
        except Exception:  # noqa: BLE001 — metrics are best-effort
            pass
        return plan + "\n\n== Runtime metrics ==\n" + "\n".join(metrics)

    # --- views (server-side CREATE VIEW analogue) ---

    def create_view(self, name: str, sql: str, *, persist: bool = False
                    ) -> None:
        """CREATE [OR REPLACE] VIEW: the text is analyzed immediately
        (errors surface at definition time, as in the server) and
        registered as a temp view over the engine's tables. With
        ``persist=True`` the definition is also recorded in the
        warehouse's ``_views.json`` and re-registered by every future
        Engine over the same directory — the durable-metadata model a
        lakehouse table format uses for view text."""
        self.sql(sql).createOrReplaceTempView(name)
        if persist:
            import json

            p = os.path.join(self.catalog._sf_dir, "_views.json")
            views = {}
            if os.path.exists(p):
                with open(p) as f:
                    views = json.load(f)
            views[name] = sql
            with open(p, "w") as f:
                json.dump(views, f, indent=1)

    def drop_view(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)
        import json

        p = os.path.join(self.catalog._sf_dir, "_views.json")
        if os.path.exists(p):
            with open(p) as f:
                views = json.load(f)
            if name in views:
                del views[name]
                with open(p, "w") as f:
                    json.dump(views, f, indent=1)

    def _register_persisted_views(self) -> None:
        import json

        p = os.path.join(self.catalog._sf_dir, "_views.json")
        if os.path.exists(p):
            with open(p) as f:
                for name, sql in json.load(f).items():
                    self.sql(sql).createOrReplaceTempView(name)

    def describe(self, name: str) -> list[tuple[str, str]]:
        """DESCRIBE <table|view>: (column, type) pairs."""
        return [(f.name, f.dataType.simpleString())
                for f in self.spark.table(name).schema.fields]
