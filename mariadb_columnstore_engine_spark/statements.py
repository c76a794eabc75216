"""Statement router: ``parse`` classifies every statement the engine runs.

Reference analogue: the reference accepts DML/DDL as SQL — mysqld parses
it (dbcon/dmlpackage/dml.y, dbcon/ddlpackage/ddl.y) and hands packages to
DMLProc/DDLProc. Here a deliberately small parser recognizes the
statement *shape* (which table, which assignments, which predicate) and
returns one typed result per statement; ``Engine.execute`` looks the
result's ``kind`` up in its dispatch table and runs that one handler.
The expressions themselves are never interpreted — they pass to Spark as
``F.expr`` text, so the full function library is available inside
SET/WHERE/VALUES.

Parsing runs on the MASKED statement (literals/comments → placeholders,
functions/sqltrans.py), so keywords in string literals can never confuse
the shape detection; fragments are unmasked before they reach Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import ClassVar

from mariadb_columnstore_engine_spark.functions.sqltrans import (
    _find_balanced,
    _literal_text,
    _mask,
    _split_top_level_commas,
    _top_level_search,
    _unmask,
)


@dataclass
class Insert:
    kind: ClassVar[str] = "insert"
    table: str
    columns: list[str]  # empty = table order
    source_sql: str  # "VALUES ..." or "SELECT ..." (unmasked)
    replace: bool = False
    #: ON DUPLICATE KEY UPDATE assignments: a plain ``str`` entry is the
    #: ``c = VALUES(c)`` take-new-value form; a ``(col, expr)`` tuple is
    #: a general update expression (dml.y update_expr) whose ``expr``
    #: references existing columns by name and inserted values as
    #: ``_new_<col>`` (rewritten from VALUES(<col>))
    on_dup_update: list = field(default_factory=list)
    #: RETURNING select-list expressions (MariaDB 10.5 INSERT..RETURNING)
    returning: list[str] = field(default_factory=list)
    #: INSERT IGNORE: constraint-violating rows are skipped, not fatal
    ignore: bool = False


@dataclass
class CreateTable:
    kind: ClassVar[str] = "create_table_as"
    name: str
    select_sql: str
    or_replace: bool = False


@dataclass
class ColumnDef:
    name: str
    dtype: str  # Spark type string
    nullable: bool = True
    default: object = None
    auto_increment: bool = False
    #: Spark ICU collation name for a declared COLLATE (None = binary,
    #: the UTF8_BINARY default) — utils/common/collation.h analogue
    collation: str | None = None


@dataclass
class CreateTableDef:
    """CREATE TABLE t (col TYPE ..., ...) — the reference's primary DDL
    entry (dbcon/ddlpackage/ddl.y grammar → createtable.cpp)."""

    kind: ClassVar[str] = "create_table"
    name: str
    columns: list[ColumnDef]
    primary_key: list[str] = field(default_factory=list)
    checks: list[tuple[str, str]] = field(default_factory=list)  # (name, expr)
    or_replace: bool = False
    auto_increment: str | None = None  # column carrying AUTO_INCREMENT


@dataclass
class Alter:
    kind: ClassVar[str] = "alter"
    table: str
    #: "add" | "add_generated" | "add_check" | "drop" | "drop_partition"
    #: | "rename_col" | "change_col" | "modify_col"
    action: str
    column: str  # the column, or the CHECK constraint's name
    dtype: str | None = None
    default: object = None
    #: generated-column / CHECK expression; the new name for
    #: rename_col / change_col
    expr: str | None = None
    #: ADD COLUMN placement (mcs87): target column name for AFTER,
    #: "__first__" for FIRST, None = append
    after: str | None = None
    #: DROP PARTITION: the ``col=value`` hive directory levels
    segments: list[str] = field(default_factory=list)


@dataclass
class JoinSpec:
    """One joined relation in a multi-table UPDATE/DELETE
    (mcs82_update_join.test / mcs83_delete_join.test). ``outer_target``
    is True when the DML target sits on the preserved side of an outer
    join (UPDATE t1 LEFT JOIN t2 — every t1 row appears, possibly
    NULL-extended), which changes the predicate rewrite in the engine."""

    table: str
    on: str  # raw ON condition (dialect SQL)
    outer_target: bool = False


@dataclass
class Update:
    kind: ClassVar[str] = "update"
    table: str
    assignments: dict[str, str] = field(default_factory=dict)
    where: str | None = None
    join: JoinSpec | None = None
    #: MariaDB ORDER BY ... LIMIT n row-path form: deterministic (and
    #: accepted) only when ORDER BY covers a declared unique key — the
    #: engine rewrites it to a key-IN-subquery predicate at execution
    order_by: str | None = None
    limit: int | None = None


@dataclass
class Delete:
    kind: ClassVar[str] = "delete"
    table: str
    where: str | None = None
    #: RETURNING select-list (MariaDB 10.0 DELETE..RETURNING): the
    #: deleted rows' projections come back as a result set
    returning: list[str] = field(default_factory=list)
    join: JoinSpec | None = None
    order_by: str | None = None
    limit: int | None = None


@dataclass
class CreateView:
    kind: ClassVar[str] = "create_view"
    name: str
    select_sql: str
    or_replace: bool = False


@dataclass
class LoadData:
    """LOAD DATA [LOCAL] INFILE — the SQL spelling of the cpimport/LDI
    bulk path (writeengine/bulk/cpimport.cpp; mysql-test ldi_* suites).
    Options mirror sources.ingest.bulk_load_csv's dialect knobs."""

    kind: ClassVar[str] = "load_data"
    table: str
    path: str
    delimiter: str = "\t"  # MariaDB LDI default
    quote: str = '"'
    escape: str = "\\"
    line_sep: str | None = None
    skip_rows: int = 0


@dataclass
class SelectIntoOutfile:
    """SELECT ... INTO OUTFILE — server-side bulk export (one file,
    delimited; the reverse of LOAD DATA INFILE)."""

    kind: ClassVar[str] = "select_into_outfile"
    select_sql: str
    path: str
    delimiter: str = "\t"
    quote: str = '"'
    line_sep: str | None = None


#: kinds of ``Other``: statements whose only argument is one name or text
OTHER_KINDS = frozenset({
    "select", "describe", "show_tables", "show_index", "show_create",
    "show_databases", "show_variables", "show_warnings",
    "show_table_status", "show_procedure_status", "show_triggers",
    "drop_view", "drop_table", "drop_table_if_exists", "truncate",
    "create_db", "create_db_if_not_exists", "drop_db",
    "drop_db_if_exists", "use_db", "drop_function",
    "drop_function_if_exists", "drop_procedure",
    "drop_procedure_if_exists", "drop_trigger", "drop_trigger_if_exists",
    "begin", "commit", "rollback", "auth_noop", "index_noop", "do_expr",
    "explain_analyze", "deallocate", "flush_tables", "session_fn",
    "calsettrace", "user_var_refs",
})


@dataclass
class Other:
    kind: str  # one of OTHER_KINDS
    arg: str = ""

    def __post_init__(self):
        if self.kind not in OTHER_KINDS:
            raise ValueError(f"unknown statement kind {self.kind!r}")


@dataclass
class Explain:
    kind: ClassVar[str] = "explain"
    mode: str  # Spark explain mode: "formatted" | "extended"
    sql: str


@dataclass
class SetSysvar:
    kind: ClassVar[str] = "set_sysvar"
    name: str  # lowercased; "names" for SET NAMES
    value: str = ""


@dataclass
class RenameTable:
    kind: ClassVar[str] = "rename_table"
    old: str
    new: str


@dataclass
class CreateFunction:
    """CREATE FUNCTION with one RETURN expression (a Spark SQL UDF)."""

    kind: ClassVar[str] = "create_function"
    name: str
    params: str  # "name type, ..." in Spark types
    returns: str  # Spark type
    body: str  # the RETURN expression, dialect SQL
    mode: str = ""  # "replace" | "ifnotexists" | ""


@dataclass
class AddPrimaryKey:
    kind: ClassVar[str] = "add_primary_key"
    table: str
    columns: list[str]


# --- compound-statement bodies (CREATE PROCEDURE / CREATE TRIGGER) -----
# A body parses to a list of the typed nodes below (see ``_Body``);
# procedures.py runs it, and sources/triggers.compile_before_transform
# compiles BEFORE INSERT/UPDATE bodies from it. Every SQL fragment a
# node holds is unmasked text.


class Node:
    """A node of a body tree; ``blocks`` are its nested statement lists."""

    kind: ClassVar[str]

    def blocks(self) -> list[list]:
        return []


@dataclass
class Stmt(Node):
    """One statement, routed like any other."""

    kind: ClassVar[str] = "stmt"
    sql: str


@dataclass
class If(Node):
    """IF/ELSEIF/ELSE: the first arm whose condition holds runs, else
    ``orelse`` (None: there is no ELSE)."""

    kind: ClassVar[str] = "if"
    arms: list[tuple[str, list]]
    orelse: list | None = None

    def blocks(self) -> list[list]:
        return [body for _, body in self.arms] + [self.orelse or []]


@dataclass
class Case(If):
    """Procedural CASE. With a ``subject``, each arm holds a value to
    compare it with; no arm taken and no ELSE raises ER 1339."""

    kind: ClassVar[str] = "case"
    subject: str | None = None


@dataclass
class Loop(Node):
    """WHILE (``cond`` checked before each pass), REPEAT (UNTIL
    ``cond`` checked after) or LOOP (no condition); ``label`` names it
    for LEAVE/ITERATE."""

    kind: ClassVar[str] = "loop"
    loop: str  # "while" | "repeat" | "loop"
    cond: str | None
    body: list
    label: str | None = None

    def blocks(self) -> list[list]:
        return [self.body]


@dataclass
class Jump(Node):
    kind: ClassVar[str] = "jump"
    verb: str  # "leave" | "iterate"
    label: str


@dataclass
class Declare(Node):
    kind: ClassVar[str] = "declare"
    names: list[str]
    default: str | None = None


@dataclass
class DeclareCursor(Node):
    kind: ClassVar[str] = "cursor"
    name: str
    sql: str


#: a condition: ("class", "not_found" | "sqlexception" | "sqlwarning"),
#: ("sqlstate", "45000"), ("errno", 1329) or ("name", declared name)
Condition = tuple[str, object]


@dataclass
class DeclareCondition(Node):
    kind: ClassVar[str] = "condition"
    name: str
    value: Condition  # a sqlstate or an errno


@dataclass
class Handler(Node):
    kind: ClassVar[str] = "handler"
    action: str  # "CONTINUE" | "EXIT"
    conditions: list[Condition]
    body: list

    def blocks(self) -> list[list]:
        return [self.body]


@dataclass
class Signal(Node):
    """SIGNAL ``condition`` (a sqlstate or a name), or RESIGNAL when
    ``condition`` is None."""

    kind: ClassVar[str] = "signal"
    condition: Condition | None
    message: str | None = None
    errno: int | None = None


@dataclass
class Open(Node):
    kind: ClassVar[str] = "open"
    cursor: str


@dataclass
class Fetch(Node):
    kind: ClassVar[str] = "fetch"
    cursor: str
    into: list[str]


@dataclass
class Close(Node):
    kind: ClassVar[str] = "close"
    cursor: str


def walk(nodes: list):
    """Every node of a body tree, depth first."""
    for node in nodes:
        yield node
        for block in node.blocks():
            yield from walk(block)


@dataclass
class CreateProcedure:
    """CREATE PROCEDURE: the head and the parsed body."""

    kind: ClassVar[str] = "create_procedure"
    name: str
    params: list[tuple[str, str, str]]  # (IN|OUT|INOUT, name, Spark type)
    body: list[Node]  # the statements between BEGIN and END
    comment: str | None = None
    or_replace: bool = False
    if_not_exists: bool = False


@dataclass
class Call:
    kind: ClassVar[str] = "call"
    name: str
    args: list[str]  # argument SQL, unbound (@out targets stay names)


@dataclass
class CreateTrigger:
    """CREATE TRIGGER ... FOR EACH ROW head (mcs60_trigger.test)."""

    kind: ClassVar[str] = "create_trigger"
    name: str
    timing: str  # "BEFORE" | "AFTER"
    event: str  # "INSERT" | "UPDATE" | "DELETE"
    table: str
    body: list[Node]  # the BEGIN .. END statements, or the one statement
    replace: bool = False
    if_not_exists: bool = False


@dataclass
class Prepare:
    kind: ClassVar[str] = "prepare"
    name: str
    text: str | None = None  # the quoted statement ...
    var: str | None = None  # ... or the @variable holding it


@dataclass
class ExecutePrepared:
    kind: ClassVar[str] = "execute_prepared"
    name: str
    using: list[str] = field(default_factory=list)  # @variable names


@dataclass
class SetUserVar:
    kind: ClassVar[str] = "set_user_var"
    name: str
    expr: str  # may reference other @variables


@dataclass
class SelectIntoVars:
    kind: ClassVar[str] = "select_into_vars"
    select_sql: str  # the SELECT without its INTO clause
    names: list[str]


@dataclass
class TableAdmin:
    """ANALYZE / CHECK / OPTIMIZE / REPAIR / CHECKSUM TABLE t1[, ...]."""

    kind: str  # "<op>_table", op lowercased
    tables: list[str]


@dataclass
class CalPartitions:
    """cal{show,disable,enable,drop}partitions('table', 'arg')
    (dbcon/mysql/ha_mcs_partition.cpp:484-738)."""

    kind: ClassVar[str] = "cal_partitions"
    verb: str  # "show" | "disable" | "enable" | "drop"
    table: str
    arg: str | None  # the column (show) or the partition list


#: every ``kind`` ``parse`` can return
KINDS = OTHER_KINDS | {"analyze_table", "check_table", "optimize_table",
                       "repair_table", "checksum_table"} | {
    c.kind for c in (
        Insert, CreateTable, CreateTableDef, Alter, Update, Delete,
        CreateView, LoadData, SelectIntoOutfile, Explain, SetSysvar,
        RenameTable, CreateFunction, AddPrimaryKey, CreateProcedure, Call,
        CreateTrigger, Prepare, ExecutePrepared, SetUserVar,
        SelectIntoVars, CalPartitions,
    )
}


def _parse_ldi_options(tail: str, store: list[str]) -> dict:
    """FIELDS/LINES/IGNORE clauses shared by LOAD DATA and INTO OUTFILE."""
    opts: dict = {}

    def lit(m: re.Match) -> str:
        v = _unmask(m.group(1), store)
        if re.fullmatch(r"'.*'", v, re.DOTALL):
            v = v[1:-1].replace("''", "'")
            v = re.sub(r"\\(.)", r"\1", v)
        return v

    m = re.search(
        r"FIELDS\s+TERMINATED\s+BY\s+(\S+)", tail, re.IGNORECASE
    )
    if m:
        opts["delimiter"] = lit(m)
    m = re.search(r"ENCLOSED\s+BY\s+(\S+)", tail, re.IGNORECASE)
    if m:
        opts["quote"] = lit(m)
    m = re.search(r"ESCAPED\s+BY\s+(\S+)", tail, re.IGNORECASE)
    if m:
        opts["escape"] = lit(m)
    m = re.search(
        r"LINES\s+TERMINATED\s+BY\s+(\S+)", tail, re.IGNORECASE
    )
    if m:
        opts["line_sep"] = lit(m)
    m = re.search(r"IGNORE\s+(\d+)\s+(LINES|ROWS)", tail, re.IGNORECASE)
    if m:
        opts["skip_rows"] = int(m.group(1))
    return opts


def _ident(tok: str, store: list[str]) -> str:
    """Unmask and unquote a table/column identifier token."""
    t = _unmask(tok, store).strip()
    if t.startswith("`") and t.endswith("`"):
        t = t[1:-1].replace("``", "`")
    return t


def _strip_order_limit(
    body: str, store: list[str]
) -> tuple[str, str | None, int | None]:
    """Split trailing ``[ORDER BY ...] [LIMIT n]`` off a single-table
    UPDATE/DELETE body (MariaDB row-path form, dbcon/dmlpackage/dml.y).
    Returns (remaining body, order_by SQL or None, limit or None).
    ORDER BY without LIMIT is dropped: it cannot change WHICH rows a
    set-based engine touches."""
    order_by = limit = None
    lm = _top_level_search(r"\bLIMIT\b", body)
    if lm:
        tail = body[lm.end():].strip()
        tm = re.fullmatch(r"(\d+)", tail)
        if not tm:
            raise ValueError(
                f"cannot parse DML LIMIT clause: {tail[:40]!r}"
            )
        limit = int(tm.group(1))
        body = body[: lm.start()].rstrip()
    om = _top_level_search(r"\bORDER\s+BY\b", body)
    if om:
        if limit is not None:
            order_by = _unmask(body[om.end():].strip(), store)
        body = body[: om.start()].rstrip()
    return body, order_by, limit


#: MariaDB column type → Spark type (datatypes/mcs_datatype_basic.h:53-86
#: enum; unsigned widens to the next signed type, UBIGINT → DECIMAL(20,0)
#: per SURVEY §1.2). Display widths like INT(11) are cosmetic and
#: stripped; TIME maps to string (interval-like, SURVEY §1.2).
_TYPE_MAP: tuple[tuple[str, str, str], ...] = (
    # (regex, signed spark type, unsigned spark type)
    (r"TINYINT(\s*\(\d+\))?", "tinyint", "smallint"),
    (r"SMALLINT(\s*\(\d+\))?", "smallint", "int"),
    (r"MEDIUMINT(\s*\(\d+\))?", "int", "int"),
    (r"(INT|INTEGER)(\s*\(\d+\))?", "int", "bigint"),
    (r"BIGINT(\s*\(\d+\))?", "bigint", "decimal(20,0)"),
    (r"(DOUBLE|REAL)(\s+PRECISION)?", "double", "double"),
    (r"FLOAT", "float", "float"),
    (r"(BOOLEAN|BOOL)", "boolean", "boolean"),
    (r"(CHAR|VARCHAR)\s*\(\s*\d+\s*\)", "string", "string"),
    (r"(TINY|MEDIUM|LONG)?TEXT", "string", "string"),
    (r"CLOB", "string", "string"),
    (r"(VARBINARY\s*\(\s*\d+\s*\)|(TINY|MEDIUM|LONG)?BLOB)",
     "binary", "binary"),
    (r"DATETIME(\s*\(\d+\))?", "timestamp", "timestamp"),
    (r"TIMESTAMP(\s*\(\d+\))?", "timestamp", "timestamp"),
    (r"DATE", "date", "date"),
    (r"TIME(\s*\(\d+\))?", "string", "string"),
)


def _map_column_type(t: str) -> str:
    t = t.strip()
    unsigned = bool(re.search(r"\bUNSIGNED\b", t, re.IGNORECASE))
    t = re.sub(r"\b(UNSIGNED|SIGNED|ZEROFILL)\b", "", t, flags=re.I).strip()
    dm = re.fullmatch(
        r"(DECIMAL|NUMERIC|DEC)\s*(\(\s*(\d+)\s*(,\s*(\d+)\s*)?\))?",
        t,
        re.IGNORECASE,
    )
    if dm:
        p = int(dm.group(3) or 10)
        s = int(dm.group(5) or 0)
        return f"decimal({p},{s})"
    for pat, signed, uns in _TYPE_MAP:
        if re.fullmatch(pat, t, re.IGNORECASE):
            return uns if unsigned else signed
    raise ValueError(f"unsupported column type: {t!r}")


def _parse_column_defs(name: str, body: str, store: list[str]):
    cols: list[ColumnDef] = []
    pk: list[str] = []
    checks: list[tuple[str, str]] = []
    for i, entry in enumerate(_split_top_level_commas(body)):
        e = entry.strip()
        m = re.match(r"PRIMARY\s+KEY\s*\(([^)]*)\)", e, re.IGNORECASE)
        if m:
            pk = [_ident(c, store) for c in m.group(1).split(",") if c.strip()]
            continue
        m = re.match(
            r"(CONSTRAINT\s+(\S+)\s+)?CHECK\s*\(", e, re.IGNORECASE
        )
        if m:
            end = _find_balanced(e, e.index("(", m.end() - 1))
            cname = (
                _ident(m.group(2), store) if m.group(2) else f"check_{i}"
            )
            checks.append(
                (cname, _unmask(e[m.end(): end - 1].strip(), store))
            )
            continue
        if re.match(
            r"(UNIQUE(\s+KEY|\s+INDEX)?|KEY|INDEX|FOREIGN\s+KEY|FULLTEXT)\b",
            e,
            re.IGNORECASE,
        ):
            continue  # index-only metadata: no planning effect on parquet
        cm = re.match(r"([^\s(]+)\s+(.+)$", e, re.DOTALL)
        if not cm:
            raise ValueError(f"cannot parse column definition: {e!r}")
        cname = _ident(cm.group(1), store)
        rest = cm.group(2).strip()
        auto_inc = bool(
            re.search(r"\bAUTO_INCREMENT\b", rest, re.IGNORECASE)
        )
        nullable = not re.search(r"\bNOT\s+NULL\b", rest, re.IGNORECASE)
        default = None
        dm = re.search(r"\bDEFAULT\s+(\S+)", rest, re.IGNORECASE)
        if dm:
            tok = _unmask(dm.group(1), store)
            if re.fullmatch(r"'.*'", tok, re.DOTALL):
                default = tok[1:-1].replace("''", "'")
            elif re.fullmatch(r"-?\d+", tok):
                default = int(tok)
            elif re.fullmatch(r"-?\d*\.\d+", tok):
                default = float(tok)
            elif tok.upper() != "NULL":
                raise ValueError(f"unsupported DEFAULT: {tok!r}")
        if re.search(r"\bPRIMARY\s+KEY\b", rest, re.IGNORECASE):
            pk = [cname]
        # per-column declared collation (ddl.y column attributes →
        # collation.h CHARSET_INFO): CHARACTER SET is metadata-only
        # (parquet is always UTF-8); COLLATE maps to a Spark ICU
        # collation applied on read so =, GROUP BY, ORDER BY honor it
        # without per-query wrappers
        collation = None
        collm = re.search(r"\bCOLLATE[\s=]+(\S+)", rest, re.IGNORECASE)
        if collm:
            from mariadb_columnstore_engine_spark.functions.dialect import (
                spark_collation,
            )

            # an EXPLICIT binary collation must survive a table-level
            # COLLATE default, so it parses to the marker 'UTF8_BINARY'
            # (normalized back to None after defaults apply)
            collation = (
                spark_collation(_unmask(collm.group(1), store))
                or "UTF8_BINARY"
            )
        # strip attributes off the type text
        type_text = re.split(
            r"\b(NOT\s+NULL|NULL|DEFAULT|PRIMARY\s+KEY|UNIQUE|COMMENT|"
            r"AUTO_INCREMENT|CHARACTER\s+SET|CHARSET|COLLATE)\b",
            rest,
            flags=re.IGNORECASE,
        )[0].strip()
        dtype = _map_column_type(_unmask(type_text, store))
        if collation is not None and dtype != "string":
            raise ValueError(
                f"COLLATE on non-string column {cname!r} ({dtype})"
            )
        cols.append(
            ColumnDef(
                name=cname,
                dtype=dtype,
                nullable=nullable,
                default=default,
                auto_increment=auto_inc,
                collation=collation,
            )
        )
    if not cols:
        raise ValueError("CREATE TABLE needs at least one column")
    auto_cols = [c for c in cols if c.auto_increment]
    if len(auto_cols) > 1:
        raise ValueError(
            "only one AUTO_INCREMENT column per table (MariaDB rule)"
        )
    if auto_cols and not (
        auto_cols[0].dtype.endswith("int")
        or auto_cols[0].dtype == "decimal(20,0)"  # BIGINT UNSIGNED
    ):
        # reference restricts autoincrement to integer types
        # (writeengine rejects others at DDL time)
        raise ValueError(
            f"AUTO_INCREMENT column {auto_cols[0].name!r} must be an "
            f"integer type, not {auto_cols[0].dtype}"
        )
    return CreateTableDef(
        name=name, columns=cols, primary_key=pk, checks=checks,
        auto_increment=auto_cols[0].name if auto_cols else None,
    )


#: a condition in a handler list, DECLARE … CONDITION FOR or SIGNAL
_CONDITION = (
    r"(?P<cls>NOT\s+FOUND|SQLEXCEPTION|SQLWARNING)\b"
    r"|SQLSTATE\s+(?:VALUE\s+)?(?P<state>\x00\d+\x00)"
    r"|(?P<errno>\d+)\b|(?P<name>[A-Za-z_]\w*)"
)

#: the END of a BEGIN … END handler body (not END IF, END LOOP, …)
_BLOCK_END = r"END(?!\s+(?:IF|WHILE|REPEAT|CASE|LOOP)\b)"


class _Body:
    """Recursive-descent parser of a masked compound-statement body.

    The body is masked with its statement's store, so a literal never
    fakes a keyword. Tokens are its ``;``-separated pieces. A header
    (``IF c THEN``, ``ELSE``, ``WHILE c DO``, …) is taken off the front
    of its token; the rest of the token is the first statement of the
    block it opens."""

    def __init__(self, masked: str, store: list[str]):
        self.toks = [t.strip() for t in masked.split(";")]
        self.store = store

    def text(self, masked: str) -> str:
        return _unmask(masked, self.store).strip()

    def peek(self, pattern: str) -> re.Match | None:
        if not self.toks:
            return None
        return re.match(pattern, self.toks[0], re.IGNORECASE | re.DOTALL)

    def take(self, pattern: str) -> re.Match | None:
        """Match ``pattern`` at the front of the current token and
        consume what it matched."""
        m = self.peek(pattern)
        if m:
            self.toks[0] = self.toks[0][m.end() :].strip()
        return m

    def block(self, *ends: str) -> list[Node]:
        """Statements up to a token that starts with one of ``ends``
        (left in place); with no ``ends``, up to the end of the body."""
        nodes = []
        while self.toks:
            if not self.toks[0]:
                self.toks.pop(0)
            elif ends and self.peek(rf"(?:{'|'.join(ends)})\b"):
                return nodes
            else:
                nodes.append(self.statement())
        if ends:
            expected = (re.sub(r"\\s\+|\(\?!.*", " ", e).strip() for e in ends)
            raise ValueError(
                "procedure body block not closed (expected "
                + " or ".join(expected)
                + ")"
            )
        return nodes

    def closed(self, end: str) -> list[Node]:
        """A block and the ``end`` [label] that closes it."""
        body = self.block(end)
        self.take(rf"{end}(?:\s+\w+)?")
        return body

    def arms(self, cond: str, word: str, end: str):
        """The arms of an IF (``word`` ELSEIF) or a CASE (WHEN) whose
        first condition is ``cond``, and its ELSE block (None without
        ELSE); consumes the ``end``."""
        arms = []
        while cond is not None:
            arms.append((self.text(cond), self.block(word, "ELSE", end)))
            m = self.take(rf"{word}\s+(.+?)\s+THEN\b")
            cond = m and m.group(1)
        orelse = self.closed(end) if self.take(r"ELSE\b") else None
        if orelse is None and not self.take(end):
            raise ValueError(
                f"unexpected token in {word} block: "
                f"{self.text(self.toks[0])[:40]!r}"
            )
        return arms, orelse

    def condition(self, *allowed: str) -> Condition:
        m = self.take(_CONDITION)
        kind = next((k for k, v in m.groupdict().items() if v), "") if m else ""
        if kind not in allowed:
            raise ValueError(
                "bad condition: "
                f"{self.text(m.group(0) if m else self.toks[0])[:40]!r}"
            )
        if kind == "cls":
            return ("class", re.sub(r"\s+", "_", m["cls"].lower()))
        if kind == "state":
            return ("sqlstate", _literal_text(m["state"], self.store))
        if kind == "errno":
            return ("errno", int(m["errno"]))
        return ("name", m["name"].lower())

    def signal(self, condition: Condition | None) -> Signal:
        """The rest of a SIGNAL/RESIGNAL: [SET MESSAGE_TEXT = '…'
        [, MYSQL_ERRNO = n]] (other condition items are diagnostics-area
        metadata with no analogue here)."""
        node, m = Signal(condition), self.take(r"(?:SET\s+(.+))?$")
        if m is None:
            raise ValueError(f"bad SIGNAL: {self.text(self.toks[0])[:40]!r}")
        for item in m.group(1).split(",") if m.group(1) else ():
            im = re.fullmatch(
                r"\s*(?:MESSAGE_TEXT\s*=\s*(\x00\d+\x00)"
                r"|MYSQL_ERRNO\s*=\s*(\d+))\s*",
                item,
                re.IGNORECASE,
            )
            if not im:
                raise ValueError(
                    "unsupported SIGNAL item (MESSAGE_TEXT / "
                    f"MYSQL_ERRNO only): {self.text(item)!r}"
                )
            if im.group(1):
                node.message = _literal_text(im.group(1), self.store)
            else:
                node.errno = int(im.group(2))
        return node

    def statement(self) -> Node:
        label = self.take(r"([A-Za-z_]\w*)\s*:\s*(?=(?:LOOP|WHILE|REPEAT)\b)")
        label = label and label.group(1).lower()
        if m := self.take(r"WHILE\b\s*(.+?)\s+DO\b"):
            body = self.closed(r"END\s+WHILE")
            return Loop("while", self.text(m.group(1)), body, label)
        if self.take(r"REPEAT\b"):
            body = self.block("UNTIL")
            m = self.take(r"UNTIL\s+(.+?)\s+END\s+REPEAT\b(?:\s+\w+)?$")
            if not m:
                raise ValueError(
                    "REPEAT block missing UNTIL .. END REPEAT in procedure "
                    "body"
                )
            return Loop("repeat", self.text(m.group(1)), body, label)
        if self.take(r"LOOP\b"):
            body = self.closed(r"END\s+LOOP")
            return Loop("loop", None, body, label)
        if m := self.take(r"(LEAVE|ITERATE)\s+(\w+)$"):
            return Jump(m.group(1).lower(), m.group(2).lower())
        if m := self.take(r"IF\b\s*(.+?)\s+THEN\b"):
            return If(*self.arms(m.group(1), "ELSEIF", r"END\s+IF"))
        if m := self.take(r"CASE\b\s*(.*?)\s*WHEN\s+(.+?)\s+THEN\b"):
            arms, orelse = self.arms(m.group(2), "WHEN", r"END\s+CASE")
            return Case(arms, orelse, self.text(m.group(1)) or None)
        if self.peek(r"BEGIN\b"):
            raise ValueError(
                "nested BEGIN … END blocks are not supported in a "
                f"stored-program body: {self.text(self.toks[0])[:60]!r}"
            )
        if m := self.take(r"DECLARE\s+(\w+)\s+CURSOR\s+FOR\s+(.+)$"):
            return DeclareCursor(m.group(1).lower(), self.text(m.group(2)))
        if m := self.take(r"DECLARE\s+(\w+)\s+CONDITION\s+FOR\s+"):
            node = DeclareCondition(
                m.group(1).lower(), self.condition("state", "errno")
            )
            if self.toks[0]:
                raise ValueError(
                    f"bad condition declaration: {self.text(self.toks[0])!r}"
                )
            return node
        if m := self.take(r"DECLARE\s+(CONTINUE|EXIT|UNDO)\s+HANDLER\s+FOR\s+"):
            if m.group(1).upper() == "UNDO":
                raise ValueError(
                    "UNDO handlers are not supported (no statement-level "
                    "undo log); use CONTINUE or EXIT"
                )
            conds = [self.condition("cls", "state", "errno", "name")]
            while self.take(","):
                conds.append(self.condition("cls", "state", "errno", "name"))
            if not self.toks[0]:
                raise ValueError("handler is missing its statement")
            body = (
                self.closed(_BLOCK_END)
                if self.take(r"BEGIN\b")
                else [self.statement()]
            )
            return Handler(m.group(1).upper(), conds, body)
        if self.take(r"SIGNAL\s+"):
            return self.signal(self.condition("state", "name"))
        if self.take(r"RESIGNAL\b"):
            return self.signal(None)
        if m := self.take(r"(OPEN|CLOSE)\s+(\w+)$"):
            op = Open if m.group(1).upper() == "OPEN" else Close
            return op(m.group(2).lower())
        if m := self.take(
            r"FETCH\s+(?:NEXT\s+FROM\s+|FROM\s+)?(\w+)\s+INTO\s+(.+)$"
        ):
            into = [v.strip().lower() for v in m.group(2).split(",")]
            return Fetch(m.group(1).lower(), into)
        if self.peek(r"(?:OPEN|FETCH|CLOSE)\b|DECLARE\s+\w+\s+CURSOR\b"):
            # fail HERE, not as a Spark error when the body runs
            raise ValueError(
                "malformed cursor statement in procedure body: "
                f"{self.text(self.toks[0])[:80]!r} (expected DECLARE c "
                "CURSOR FOR <select> / OPEN c / FETCH c INTO v,... / "
                "CLOSE c)"
            )
        if m := self.take(
            r"DECLARE\s+(.+?)\s+(\w+(?:\s*\([^)]*\))?(?:\s+UNSIGNED)?)"
            r"(?:\s+DEFAULT\s+(.+))?$"
        ):
            names = [n.strip().lower() for n in m.group(1).split(",")]
            default = self.text(m.group(3)) if m.group(3) else None
            return Declare(names, default)
        return Stmt(self.text(self.take(".*").group(0)))


def _parse_unbound(masked: str, store: list[str]):
    """Forms whose @names are targets or run-time references, not values
    to bind now: stored-program heads (their bodies run later), prepared
    statements and user-variable assignments. None for anything else."""
    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?PROCEDURE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"(\S+?)\s*\(",
        masked,
        re.IGNORECASE,
    )
    if m:
        open_at = masked.index("(", m.end() - 1)
        end = _find_balanced(masked, open_at)
        params = []
        for p in _split_top_level_commas(masked[open_at + 1 : end - 1]):
            if not p.strip():
                continue
            pm = re.match(
                r"\s*(IN|OUT|INOUT)?\s*(\w+)\s+(.+?)\s*$",
                p,
                re.IGNORECASE | re.DOTALL,
            )
            if not pm:
                raise ValueError(f"bad procedure parameter: {p!r}")
            params.append((
                (pm.group(1) or "IN").upper(),
                pm.group(2).lower(),
                _map_column_type(pm.group(3)),
            ))
        tm = re.match(
            r"\s*(?:COMMENT\s+(\x00\d+\x00)\s*)?"
            r"(?:(?:NOT\s+)?DETERMINISTIC\s*|CONTAINS\s+SQL\s*"
            r"|NO\s+SQL\s*|READS\s+SQL\s+DATA\s*"
            r"|MODIFIES\s+SQL\s+DATA\s*|LANGUAGE\s+SQL\s*)*"
            r"BEGIN\b(.*)\bEND\s*$",
            masked[end:],
            re.IGNORECASE | re.DOTALL,
        )
        if not tm:
            raise ValueError("CREATE PROCEDURE expects a BEGIN .. END body")
        return CreateProcedure(
            name=_ident(m.group(3), store).lower(),
            params=params,
            body=_Body(tm.group(2), store).block(),
            comment=_unmask(tm.group(1), store)[1:-1] if tm.group(1) else None,
            or_replace=bool(m.group(1)),
            if_not_exists=bool(m.group(2)),
        )

    m = re.match(r"CALL\s+(\S+?)\s*(\(|$)", masked, re.IGNORECASE)
    if m:
        args = []
        if m.group(2):
            open_at = m.end() - 1
            end = _find_balanced(masked, open_at)
            args = [
                _unmask(a, store).strip()
                for a in _split_top_level_commas(masked[open_at + 1 : end - 1])
                if a.strip()
            ]
        return Call(name=_ident(m.group(1), store).lower(), args=args)

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?TRIGGER\s+(IF\s+NOT\s+EXISTS\s+)?(\S+)\s+"
        r"(BEFORE|AFTER)\s+(INSERT|UPDATE|DELETE)\s+ON\s+(\S+)\s+"
        r"FOR\s+EACH\s+ROW\s+(.*)$",
        masked,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        timing, event, body = m.group(4).upper(), m.group(5).upper(), m.group(7)
        bm = re.match(
            r"\s*BEGIN\b(.*)\bEND\s*$", body, re.IGNORECASE | re.DOTALL
        )
        # no row image to read (MariaDB ER_TRG_NO_SUCH_ROW_IN_TRG)
        row = {"INSERT": "OLD", "DELETE": "NEW"}.get(event)
        if row and re.search(rf"\b{row}\s*\.", body, re.IGNORECASE):
            raise ValueError(
                f"{timing} {event} trigger bodies cannot reference {row}.x "
                f"(no {row.lower()} row image)"
            )
        return CreateTrigger(
            name=_ident(m.group(3), store).lower(),
            timing=timing,
            event=event,
            table=_ident(m.group(6), store).lower(),
            body=_Body(bm.group(1) if bm else body, store).block(),
            replace=bool(m.group(1)),
            if_not_exists=bool(m.group(2)),
        )

    m = re.fullmatch(
        r"DROP\s+(PROCEDURE|TRIGGER)\s+(IF\s+EXISTS\s+)?(\S+)\s*",
        masked,
        re.IGNORECASE,
    )
    if m:
        kind = "drop_" + m.group(1).lower()
        return Other(
            kind + "_if_exists" if m.group(2) else kind,
            _ident(m.group(3), store).lower(),
        )
    if re.fullmatch(r"SHOW\s+PROCEDURE\s+STATUS\s*", masked, re.IGNORECASE):
        return Other("show_procedure_status")
    if re.fullmatch(r"SHOW\s+TRIGGERS\s*", masked, re.IGNORECASE):
        return Other("show_triggers")

    # server-side prepared statements: ? slots fill at EXECUTE time
    m = re.fullmatch(
        r"PREPARE\s+(\w+)\s+FROM\s+(.+?)\s*", masked, re.I | re.DOTALL
    )
    if m:
        src = _unmask(m.group(2), store)
        if re.fullmatch(r"@\w+", src):
            return Prepare(name=m.group(1), var=src[1:])
        if src[:1] in ("'", '"') and re.fullmatch(r"\x00\d+\x00", m.group(2)):
            return Prepare(
                name=m.group(1), text=src[1:-1].replace(src[0] * 2, src[0])
            )
        raise ValueError("PREPARE needs a quoted statement or @var")
    m = re.fullmatch(
        r"EXECUTE\s+(\w+)(?:\s+USING\s+(.+?))?\s*", masked, re.I | re.DOTALL
    )
    if m:
        using = [t.strip() for t in m.group(2).split(",")] if m.group(2) else []
        if not all(re.fullmatch(r"@\w+", t) for t in using):
            raise ValueError("EXECUTE USING takes @var arguments")
        return ExecutePrepared(name=m.group(1), using=[t[1:] for t in using])
    m = re.fullmatch(r"DEALLOCATE\s+PREPARE\s+(\w+)\s*", masked, re.I)
    if m:
        return Other("deallocate", m.group(1))

    # session user variables: SET @x = expr and SELECT ... INTO @a[, @b].
    # The row-order-dependent inline `@x := expr` has no distributed
    # meaning and is not supported (use window functions).
    m = re.fullmatch(
        r"SET\s+@(\w+)\s*:?=\s*(.+?)\s*", masked, re.I | re.DOTALL
    )
    if m:
        return SetUserVar(name=m.group(1), expr=_unmask(m.group(2), store))
    m = re.search(
        r"\sINTO\s+(@\w+(?:\s*,\s*@\w+)*)\s", masked + " ", re.IGNORECASE
    )
    if m:
        sel = masked[: m.start()] + " " + (masked + " ")[m.end() :]
        return SelectIntoVars(
            select_sql=_unmask(sel.strip(), store),
            names=[t.strip()[1:] for t in m.group(1).split(",")],
        )
    return None


def _parse_admin(masked: str, store: list[str]):
    """Table maintenance, FLUSH, SHOW WARNINGS / TABLE STATUS, and the
    ColumnStore client UDFs and session functions that answer from
    engine state (ha_mcs_client_udfs.cpp:260-960,
    mcs170_session_functions.test). None for anything else."""
    m = re.fullmatch(
        r"(ANALYZE|CHECK|OPTIMIZE|REPAIR|CHECKSUM)\s+TABLE\s+"
        r"([\w\x00]+(?:\s*,\s*[\w\x00]+)*)(\s+COMPUTE\s+STATISTICS)?\s*",
        masked,
        re.IGNORECASE,
    )
    if m and (m.group(1).upper() == "ANALYZE" or not m.group(3)):
        return TableAdmin(
            kind=m.group(1).lower() + "_table",
            tables=[_ident(t, store) for t in m.group(2).split(",")],
        )
    if re.fullmatch(
        r"FLUSH\s+(LOCAL\s+)?TABLES?(\s+WITH\s+READ\s+LOCK)?\s*",
        masked,
        re.IGNORECASE,
    ):
        return Other("flush_tables")
    if re.fullmatch(r"SHOW\s+WARNINGS\s*", masked, re.IGNORECASE):
        return Other("show_warnings")
    if re.fullmatch(r"SHOW\s+TABLE\s+STATUS\s*", masked, re.IGNORECASE):
        return Other("show_table_status")
    m = re.fullmatch(
        r"SELECT\s+(?:(DATABASE|LAST_INSERT_ID|calgetversion|mcssystemready"
        r"|mcssystemreadonly|calgettrace|calgetstats)\s*\(\s*\)"
        r"|(USER|SESSION_USER|SYSTEM_USER|CURRENT_USER|CONNECTION_ID"
        r"|VERSION|SCHEMA)\s*(?:\(\s*\))?)\s*",
        masked,
        re.IGNORECASE,
    )
    if m:
        return Other("session_fn", (m.group(1) or m.group(2)).lower())
    m = re.fullmatch(
        r"SELECT\s+calsettrace\s*\(\s*(\d+)\s*\)\s*", masked, re.IGNORECASE
    )
    if m:
        return Other("calsettrace", m.group(1))
    m = re.fullmatch(
        r"SELECT\s+cal(show|disable|enable|drop)partitions\s*\(\s*"
        r"(\x00\d+\x00)\s*(?:,\s*(\x00\d+\x00)\s*)?\)\s*",
        masked,
        re.IGNORECASE,
    )
    if m:
        table = _literal_text(m.group(2), store)
        arg = _literal_text(m.group(3), store) if m.group(3) else None
        if table is not None and (arg is not None or not m.group(3)):
            return CalPartitions(m.group(1).lower(), table, arg)
    return None


def parse(sql: str):
    """Classify one statement; returns a dataclass above, whose ``kind``
    names the engine handler that runs it.

    SELECT/WITH/VALUES statements come back as ``Other("select", sql)``
    untouched — the router sends those to the query path. A statement
    that references @variables (outside the forms ``_parse_unbound``
    takes) comes back as ``Other("user_var_refs", sql)``: the engine
    binds the variables to literals and parses the bound text.
    """
    masked, store = _mask(sql)
    masked = re.sub(r";\s*$", "", masked.strip())

    def rest_of(m: re.Match) -> str:
        return masked[m.end() :].strip()

    found = _parse_unbound(masked, store)
    if found is not None:
        return found
    if re.search(r"@\w+", masked):
        return Other("user_var_refs", sql)
    found = _parse_admin(masked, store)
    if found is not None:
        return found

    m = re.match(r"(SELECT|WITH|VALUES)\b", masked, re.IGNORECASE)
    if m:
        om = _top_level_search(r"\bINTO\s+OUTFILE\s+(\S+)", masked)
        if om:
            outpath = _unmask(om.group(1), store).strip("'\"")
            tail = masked[om.end() :]
            opts = _parse_ldi_options(tail, store)
            opts.pop("skip_rows", None)
            opts.pop("escape", None)
            # the SELECT text = everything before INTO OUTFILE plus any
            # trailing clauses after the FIELDS/LINES options block
            tm = re.match(
                r"(\s*(FIELDS\s+TERMINATED\s+BY\s+\S+|ENCLOSED\s+BY\s+\S+|"
                r"ESCAPED\s+BY\s+\S+|LINES\s+TERMINATED\s+BY\s+\S+))*",
                tail,
                re.IGNORECASE,
            )
            rest = tail[tm.end() :]
            return SelectIntoOutfile(
                select_sql=_unmask(
                    masked[: om.start()] + " " + rest, store
                ).strip(),
                path=outpath,
                **opts,
            )
        return Other("select", sql)

    m = re.match(
        r"LOAD\s+DATA\s+(?:LOCAL\s+)?INFILE\s+(\S+)\s+"
        r"(?:IGNORE\s+|REPLACE\s+)?INTO\s+TABLE\s+([^\s(]+)",
        masked,
        re.IGNORECASE,
    )
    if m:
        return LoadData(
            table=_ident(m.group(2), store),
            path=_unmask(m.group(1), store).strip("'\""),
            **_parse_ldi_options(masked[m.end() :], store),
        )

    m = re.match(
        r"EXPLAIN\s+(?:(EXTENDED|PARTITIONS)\s+|FORMAT\s*=\s*(\w+)\s+)?",
        masked,
        re.IGNORECASE,
    )
    if m and re.match(
        r"(SELECT|WITH|VALUES|INSERT|UPDATE|DELETE)\b",
        masked[m.end() :],
        re.IGNORECASE,
    ):
        # MariaDB EXPLAIN modifiers → Spark explain modes: EXTENDED →
        # "extended" (logical+physical), PARTITIONS folds into formatted
        # (partition pruning shows in the scan node), FORMAT=JSON has no
        # Spark emitter → "formatted" text (documented deviation)
        mode = "formatted"
        if m.group(1) and m.group(1).upper() == "EXTENDED":
            mode = "extended"
        return Explain(mode, _unmask(rest_of(m), store))

    m = re.match(r"EXPLAIN\s+([\w`]+)\s*;?\s*$", masked, re.IGNORECASE)
    if m:
        # MariaDB `EXPLAIN t` is DESCRIBE t
        return Other("describe", _ident(m.group(1), store))

    # MariaDB ANALYZE <select>: execute + return the plan with actual
    # runtime row counts (r_rows); ANALYZE TABLE is a TableAdmin above
    m = re.match(r"ANALYZE\s+(?=SELECT|WITH)\b", masked, re.IGNORECASE)
    if m:
        return Other("explain_analyze", _unmask(rest_of(m), store))

    if re.fullmatch(r"SHOW\s+TABLES\s*", masked, re.IGNORECASE):
        return Other("show_tables")

    m = re.match(
        r"SHOW\s+(?:COLUMNS|FIELDS)\s+FROM\s+(\S+)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        return Other("describe", _ident(m.group(1), store))

    m = re.match(
        r"SHOW\s+(?:INDEX|INDEXES|KEYS)\s+FROM\s+(\S+)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        # ColumnStore has no secondary indexes (the extent map IS the
        # index); MariaDB SHOW INDEX returns the declared keys — here
        # the attach/PRIMARY KEY columns, else an empty set
        return Other("show_index", _ident(m.group(1), store))

    m = re.match(
        r"SHOW\s+CREATE\s+TABLE\s+(\S+)\s*$", masked, re.IGNORECASE
    )
    if m:
        return Other("show_create", _ident(m.group(1), store))

    # transaction control (≈ dml.y BEGIN/COMMIT/ROLLBACK → DMLProc's
    # version-buffer commit/rollback)
    if re.fullmatch(
        r"(BEGIN(\s+WORK)?|START\s+TRANSACTION)\s*", masked, re.IGNORECASE
    ):
        return Other("begin")
    if re.fullmatch(r"COMMIT(\s+WORK)?\s*", masked, re.IGNORECASE):
        return Other("commit")
    if re.fullmatch(r"ROLLBACK(\s+WORK)?\s*", masked, re.IGNORECASE):
        return Other("rollback")

    # single-user engine: account management parses and no-ops (mcs18/
    # mcs19 run these around every suite; the reference delegates auth
    # to mysqld — there is no auth layer in a library engine)
    m = re.match(
        r"(GRANT\b|REVOKE\b|CREATE\s+USER\b|DROP\s+USER\b|"
        r"ALTER\s+USER\b|SET\s+PASSWORD\b|FLUSH\s+PRIVILEGES\b|"
        r"SHOW\s+GRANTS\b)",
        masked,
        re.IGNORECASE,
    )
    if m:
        return Other("auth_noop", m.group(1).upper().split()[0])

    # session system variables (SET @user_vars are _parse_unbound
    # forms; SET PASSWORD is the auth_noop rule above)
    m = re.match(
        r"SET\s+NAMES\s+\S+(\s+COLLATE\s+\S+)?\s*$", masked, re.IGNORECASE
    )
    if m:
        return SetSysvar("names")
    m = re.match(
        r"SET\s+(?:SESSION\s+|GLOBAL\s+)?([A-Za-z_][\w.]*)\s*=\s*(.+?)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m and not m.group(1).startswith("@"):
        return SetSysvar(m.group(1).lower(), _unmask(m.group(2), store))
    m = re.match(
        r"SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES"
        r"(?:\s+LIKE\s+(\x00\d+\x00))?\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        pat = _literal_text(m.group(1), store) if m.group(1) else ""
        return Other("show_variables", pat or "")

    # INSERT DELAYED: the delayed-write queue is a MyISAM-era hint;
    # MariaDB itself treats it as plain INSERT on engines without the
    # queue (mcs25_insert_delayed) — strip the keyword
    masked = re.sub(
        r"^(\s*INSERT\s+)DELAYED\s+", r"\1", masked, flags=re.IGNORECASE
    )

    m = re.match(
        r"(INSERT|REPLACE)\s+(IGNORE\s+)?INTO\s+([^\s(]+)\s+SET\s+",
        masked,
        re.IGNORECASE,
    )
    if m:
        # MariaDB INSERT ... SET col = expr, ... — rewritten to the
        # column-list VALUES form; RETURNING splits off first or it
        # would be swallowed into the last assignment's expression
        body = rest_of(m)
        returning: list[str] = []
        rm = _top_level_search(r"\bRETURNING\b", body)
        if rm:
            returning = [
                _unmask(p.strip(), store)
                for p in _split_top_level_commas(body[rm.end() :])
            ]
            body = body[: rm.start()].strip()
        cols, vals = [], []
        for part in _split_top_level_commas(body):
            am = re.match(r"\s*(\S+)\s*=\s*(.+)\s*$", part, re.DOTALL)
            if not am:
                raise ValueError(
                    f"cannot parse INSERT SET assignment: {part!r}"
                )
            cols.append(_ident(am.group(1), store))
            vals.append(_unmask(am.group(2).strip(), store))
        return Insert(
            table=_ident(m.group(3), store),
            columns=cols,
            source_sql="VALUES (" + ", ".join(vals) + ")",
            replace=m.group(1).upper() == "REPLACE",
            returning=returning,
            ignore=bool(m.group(2)) and m.group(1).upper() == "INSERT",
        )

    m = re.match(
        # table token is [^\s(]+ , not \S+: MariaDB allows the column
        # list directly adjacent — INSERT INTO t1(id,val) VALUES ... —
        # and \S+ would swallow "(id,val)" into the table name
        r"(INSERT|REPLACE)\s+(IGNORE\s+)?INTO\s+([^\s(]+)\s*",
        masked,
        re.IGNORECASE,
    )
    if m:
        body = rest_of(m)
        cols: list[str] = []
        cm = re.match(r"\(([^)]*)\)\s*", body)
        if cm and not re.match(r"\(\s*SELECT\b", body, re.IGNORECASE):
            cols = [
                _ident(c, store) for c in cm.group(1).split(",") if c.strip()
            ]
            body = body[cm.end() :]
        if not re.match(r"(VALUES|SELECT|WITH)\b", body, re.IGNORECASE):
            raise ValueError(
                "INSERT source must be VALUES, SELECT or WITH"
            )
        returning: list[str] = []
        rm = _top_level_search(r"\bRETURNING\b", body)
        if rm:
            returning = [
                _unmask(p.strip(), store)
                for p in _split_top_level_commas(body[rm.end() :])
            ]
            body = body[: rm.start()].strip()
        on_dup: list = []
        om = _top_level_search(r"\bON\s+DUPLICATE\s+KEY\s+UPDATE\b", body)
        if om:
            for part in _split_top_level_commas(body[om.end() :]):
                am = re.match(
                    r"\s*([^\s=]+)\s*=\s*(.+?)\s*$",
                    part,
                    re.IGNORECASE | re.DOTALL,
                )
                if not am:
                    raise ValueError(
                        f"cannot parse ON DUPLICATE KEY UPDATE "
                        f"assignment: {part!r}"
                    )
                target = _ident(am.group(1), store)
                rhs = am.group(2)
                vm = re.fullmatch(
                    r"VALUES\s*\(\s*(\S+?)\s*\)", rhs, re.IGNORECASE
                )
                if vm and _ident(vm.group(1), store) == target:
                    # c = VALUES(c): plain take-the-new-value form
                    on_dup.append(target)
                    continue
                # general expression over the existing row's columns
                # and VALUES(x) references (dml.y update_expr): rewrite
                # VALUES(x) to the upsert join's _new_x columns —
                # mask-aware, so VALUES( inside a string never rewrites
                expr = re.sub(
                    r"\bVALUES\s*\(\s*[`]?(\w+)[`]?\s*\)",
                    lambda m: f"_new_{m.group(1)}",
                    rhs,
                    flags=re.IGNORECASE,
                )
                on_dup.append((target, _unmask(expr, store)))
            body = body[: om.start()].strip()
        return Insert(
            table=_ident(m.group(3), store),
            columns=cols,
            source_sql=_unmask(body, store),
            replace=m.group(1).upper() == "REPLACE",
            on_dup_update=on_dup,
            returning=returning,
            ignore=bool(m.group(2)) and m.group(1).upper() == "INSERT",
        )

    m = re.match(
        r"UPDATE\s+([^\s(,]+)\s+(?:(INNER|LEFT|RIGHT)\s+)?JOIN\s+"
        r"([^\s(]+)\s+ON\s+",
        masked,
        re.IGNORECASE,
    )
    if m:
        # multi-table UPDATE (mcs82_update_join.test): UPDATE t1 [INNER|
        # LEFT|RIGHT] JOIN t2 ON cond SET ... [WHERE ...]. The updated
        # table is whichever one the SET assignments qualify (MariaDB
        # allows either side); unqualified assignments target the first.
        body = rest_of(m)
        sm = _top_level_search(r"\bSET\b", body)
        if not sm:
            raise ValueError("UPDATE JOIN requires a SET clause")
        on_sql = _unmask(body[: sm.start()].strip(), store)
        body = body[sm.end() :]
        where = None
        wm = _top_level_search(r"\bWHERE\b", body)
        if wm:
            where = _unmask(body[wm.end() :].strip(), store)
            body = body[: wm.start()].strip()
        t1 = _ident(m.group(1), store)
        t2 = _ident(m.group(3), store)
        jtype = (m.group(2) or "INNER").upper()
        assignments: dict[str, str] = {}
        target = None
        for part in _split_top_level_commas(body):
            am = re.match(r"\s*(\S+)\s*=\s*(.+)\s*$", part, re.DOTALL)
            if not am:
                raise ValueError(f"cannot parse SET assignment: {part!r}")
            col = _ident(am.group(1), store)
            if "." in col:
                qual, col = col.rsplit(".", 1)
                if target is not None and qual != target:
                    raise ValueError(
                        "UPDATE JOIN can assign columns of ONE table; "
                        f"got both {target!r} and {qual!r}"
                    )
                if qual not in (t1, t2):
                    raise ValueError(
                        f"SET qualifier {qual!r} is not a joined table"
                    )
                target = qual
            assignments[col] = _unmask(am.group(2).strip(), store)
        target = target or t1
        other = t2 if target == t1 else t1
        outer_target = (jtype == "LEFT" and target == t1) or (
            jtype == "RIGHT" and target == t2
        )
        return Update(
            table=target,
            assignments=assignments,
            where=where,
            join=JoinSpec(table=other, on=on_sql,
                          outer_target=outer_target),
        )

    m = re.match(
        r"DELETE\s+([^\s(]+)\s+FROM\s+([^\s(,]+)\s+"
        r"(?:(INNER|LEFT|RIGHT)\s+)?JOIN\s+([^\s(]+)\s+ON\s+",
        masked,
        re.IGNORECASE,
    )
    if m:
        # multi-table DELETE (mcs83_delete_join.test): DELETE t FROM t1
        # [INNER|LEFT|RIGHT] JOIN t2 ON cond [WHERE ...] — rows of t
        # that appear in the join result (and satisfy WHERE) are removed.
        target = _ident(m.group(1), store)
        t1 = _ident(m.group(2), store)
        t2 = _ident(m.group(4), store)
        jtype = (m.group(3) or "INNER").upper()
        if target not in (t1, t2):
            raise ValueError(
                f"DELETE target {target!r} is not one of the joined "
                f"tables ({t1!r}, {t2!r})"
            )
        body = rest_of(m)
        where = None
        wm = _top_level_search(r"\bWHERE\b", body)
        if wm:
            where = _unmask(body[wm.end() :].strip(), store)
            body = body[: wm.start()].strip()
        on_sql = _unmask(body.strip(), store)
        other = t2 if target == t1 else t1
        outer_target = (jtype == "LEFT" and target == t1) or (
            jtype == "RIGHT" and target == t2
        )
        return Delete(
            table=target,
            where=where,
            join=JoinSpec(table=other, on=on_sql,
                          outer_target=outer_target),
        )

    m = re.match(r"UPDATE\s+([^\s(]+)\s+SET\s+", masked, re.IGNORECASE)
    if m:
        body = rest_of(re.match(r"UPDATE\s+\S+\s+SET", masked, re.IGNORECASE))
        # MariaDB UPDATE .. ORDER BY .. LIMIT n updates the first n
        # rows in that order (mysqld's row-at-a-time update path,
        # dbcon/dmlpackage/dml.y). Deterministic only when ORDER BY is
        # a total order: the engine accepts it iff the ordering covers
        # a declared unique key (rewritten to a key-IN-subquery
        # predicate at execution) and refuses otherwise.
        body, order_by, limit_n = _strip_order_limit(body, store)
        if limit_n is not None and order_by is None:
            raise ValueError(
                "UPDATE with LIMIT but no ORDER BY updates arbitrary "
                "rows — no deterministic distributed meaning; add "
                "ORDER BY over a unique key"
            )
        where = None
        wm = _top_level_search(r"\bWHERE\b", body)
        if wm:
            where = _unmask(body[wm.end() :].strip(), store)
            body = body[: wm.start()].strip()
        assignments: dict[str, str] = {}
        for part in _split_top_level_commas(body):
            am = re.match(r"\s*(\S+)\s*=\s*(.+)\s*$", part, re.DOTALL)
            if not am:
                raise ValueError(f"cannot parse SET assignment: {part!r}")
            assignments[_ident(am.group(1), store)] = _unmask(
                am.group(2).strip(), store
            )
        return Update(
            table=_ident(m.group(1), store),
            assignments=assignments,
            where=where,
            order_by=order_by,
            limit=limit_n,
        )

    m = re.match(r"DELETE\s+FROM\s+([^\s(]+)\s*", masked, re.IGNORECASE)
    if m:
        body = rest_of(m)
        where = None
        returning = []
        rm = _top_level_search(r"\bRETURNING\b", body)
        if rm:
            returning = [
                _unmask(p.strip(), store)
                for p in _split_top_level_commas(body[rm.end() :])
            ]
            body = body[: rm.start()].strip()
        if body:
            body, order_by, limit_n = _strip_order_limit(body, store)
            if limit_n is not None and order_by is None:
                raise ValueError(
                    "DELETE with LIMIT but no ORDER BY deletes "
                    "arbitrary rows — no deterministic distributed "
                    "meaning; add ORDER BY over a unique key"
                )
            if body:
                wm = re.match(r"WHERE\b", body, re.IGNORECASE)
                if not wm:
                    raise ValueError(
                        f"unexpected DELETE clause: {body[:40]!r}"
                    )
                where = _unmask(body[wm.end() :].strip(), store)
        else:
            order_by = limit_n = None
        return Delete(
            table=_ident(m.group(1), store),
            where=where,
            returning=returning,
            order_by=order_by,
            limit=limit_n,
        )

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(\S+)\s+AS\s+",
        masked,
        re.IGNORECASE,
    )
    if m:
        return CreateTable(
            name=_ident(m.group(2), store),
            select_sql=_unmask(rest_of(m), store),
            or_replace=bool(m.group(1)),
        )

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([^\s(]+)\s*\(",
        masked,
        re.IGNORECASE,
    )
    if m:
        open_at = masked.index("(", m.start())
        end = _find_balanced(masked, open_at)
        tail = masked[end:].strip()
        # table options after the column list: ENGINE=.., CHARSET, etc.
        if tail and not re.fullmatch(
            r"(ENGINE\s*=\s*\w+|DEFAULT\s+CHARSET\s*=\s*\w+|"
            r"COLLATE\s*=?\s*\w+|COMMENT\s*=?\s*\S+)(\s+(ENGINE\s*=\s*\w+|"
            r"DEFAULT\s+CHARSET\s*=\s*\w+|COLLATE\s*=?\s*\w+|"
            r"COMMENT\s*=?\s*\S+))*\s*",
            tail,
            re.IGNORECASE,
        ):
            raise ValueError(f"unsupported CREATE TABLE tail: {tail[:40]!r}")
        parsed_def = _parse_column_defs(
            _ident(m.group(2), store),
            masked[open_at + 1 : end - 1],
            store,
        )
        parsed_def.or_replace = bool(m.group(1))
        # table-level COLLATE option = default collation for string
        # columns that don't declare their own (MariaDB table charset
        # semantics, ddl.y table_option)
        tcoll = re.search(r"\bCOLLATE\s*=?\s*(\w+)", tail, re.IGNORECASE)
        if tcoll:
            from mariadb_columnstore_engine_spark.functions.dialect import (
                spark_collation,
            )

            default_coll = spark_collation(tcoll.group(1))
            if default_coll is not None:
                for c in parsed_def.columns:
                    if c.dtype == "string" and c.collation is None:
                        c.collation = default_coll
        for c in parsed_def.columns:
            if c.collation == "UTF8_BINARY":  # explicit binary marker
                c.collation = None
        return parsed_def

    m = re.match(r"TRUNCATE\s+(?:TABLE\s+)?(\S+)\s*$", masked, re.I)
    if m:
        return Other("truncate", _ident(m.group(1), store))

    m = re.match(
        r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([^\s;]+)\s*$", masked, re.I
    )
    if m:
        kind = "drop_table_if_exists" if m.group(1) else "drop_table"
        return Other(kind, _ident(m.group(2), store))

    m = re.match(
        r"RENAME\s+TABLE\s+(\S+)\s+TO\s+(\S+)\s*$", masked, re.I
    )
    if m:
        return RenameTable(_ident(m.group(1), store), _ident(m.group(2), store))

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+ADD\s+(?:COLUMN\s+)?(\S+)\s+(\S+)\s+"
        r"GENERATED\s+ALWAYS\s+AS\s*\(",
        masked,
        re.IGNORECASE,
    )
    if m:
        end = _find_balanced(masked, masked.index("(", m.end() - 1))
        return Alter(
            table=_ident(m.group(1), store),
            action="add_generated",
            column=_ident(m.group(2), store),
            dtype=_unmask(m.group(3), store),
            expr=_unmask(masked[m.end() : end - 1].strip(), store),
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+DROP\s+PARTITION\s*\(([^)]+)\)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        # hive-layout spelling: DROP PARTITION (col = value[, ...]) —
        # the reference's partition DDL (dbcon/ddlpackage/
        # droppartition.cpp) targets casual-partitioning extents; here a
        # partition is a hive directory level. Split on the MASKED text
        # (a quoted value may contain ',' or '=').
        segs = []
        for part in m.group(2).split(","):
            pm = re.fullmatch(
                r"\s*([A-Za-z_]\w*)\s*=\s*(.+?)\s*", part
            )
            if not pm:
                raise ValueError(f"bad DROP PARTITION spec: {part!r}")
            val = _unmask(pm.group(2), store).strip().strip("'\"")
            segs.append(f"{pm.group(1)}={val}")
        return Alter(
            table=_ident(m.group(1), store),
            action="drop_partition",
            column="",
            segments=segs,
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+ADD\s+CONSTRAINT\s+(\S+)\s+"
        r"CHECK\s*\(",
        masked,
        re.IGNORECASE,
    )
    if m:
        end = _find_balanced(masked, masked.index("(", m.end() - 1))
        return Alter(
            table=_ident(m.group(1), store),
            action="add_check",
            column=_ident(m.group(2), store),
            expr=_unmask(masked[m.end() : end - 1].strip(), store),
        )

    m = re.match(
        r"CREATE\s+(DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?(\S+)\s*;?\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        kind = "create_db_if_not_exists" if m.group(2) else "create_db"
        return Other(kind, _ident(m.group(3), store))

    m = re.match(
        r"DROP\s+(DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?(\S+)\s*;?\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        kind = "drop_db_if_exists" if m.group(2) else "drop_db"
        return Other(kind, _ident(m.group(3), store))

    if re.fullmatch(r"SHOW\s+DATABASES\s*", masked, re.IGNORECASE):
        return Other("show_databases")

    m = re.match(r"USE\s+(\S+)\s*;?\s*$", masked, re.IGNORECASE)
    if m:
        return Other("use_db", _ident(m.group(1), store))

    m = re.match(r"DO\s+", masked, re.IGNORECASE)
    if m:
        # MariaDB DO expr: evaluate for side effects, discard result
        return Other("do_expr", _unmask(rest_of(m), store))

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([^\s(]+)\s*\(",
        masked,
        re.IGNORECASE,
    )
    if m:
        # mcs16_functions_define_call_drop: stored SQL functions with a
        # single RETURN expression become Spark SQL UDFs (analyzed and
        # inlined by Catalyst — no per-row interpretation). The parameter
        # list is scanned paren-depth-aware (not [^)]*) so typed params
        # like DECIMAL(10,2) / VARCHAR(20) parse. Trivial BEGIN..END
        # bodies that wrap exactly one RETURN statement (the mcs16 long
        # form) are unwrapped; genuinely procedural bodies are refused,
        # not mistranslated.
        open_idx = masked.index("(", m.end() - 1)
        end = _find_balanced(masked, open_idx)
        param_src = masked[open_idx + 1 : end - 1]
        tail = masked[end:]
        tm = re.match(
            r"\s*RETURNS\s+"
            r"(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s+UNSIGNED)?)"
            r"((?:\s+(?:NOT\s+)?DETERMINISTIC|\s+NO\s+SQL|\s+CONTAINS\s+SQL"
            r"|\s+READS\s+SQL\s+DATA|\s+LANGUAGE\s+SQL|\s+COMMENT\s+\S+)*)"
            r"\s+(RETURN|BEGIN)\b\s*(.*?)\s*;?\s*$",
            tail,
            re.IGNORECASE | re.DOTALL,
        )
        if not tm:
            raise ValueError(
                "unsupported CREATE FUNCTION form: expected "
                "'RETURNS <type> [attrs] RETURN <expr>' (stored SQL "
                "functions support single-expression bodies only)"
            )
        masked_body = tm.group(4).strip()
        if tm.group(3).upper() == "BEGIN":
            # unwrap `BEGIN RETURN <expr>; END` — exactly one statement
            # (checked on the MASKED text so ';' inside string literals
            # can't fake a second statement)
            bm = re.match(
                r"RETURN\s+(.+?)\s*;\s*END\s*$",
                masked_body,
                re.IGNORECASE | re.DOTALL,
            )
            if not bm or ";" in bm.group(1):
                raise ValueError(
                    "only single-expression RETURN function bodies are "
                    "supported (procedural BEGIN..END is not)"
                )
            masked_body = bm.group(1).strip()
        body = _unmask(masked_body, store)
        params = []
        for p in _split_top_level_commas(param_src):
            if not p.strip():
                continue
            pm = re.match(r"\s*(\S+)\s+(.+?)\s*$", p, re.DOTALL)
            if not pm:
                raise ValueError(f"bad function parameter: {p!r}")
            params.append(
                f"{_ident(pm.group(1), store)} "
                f"{_map_column_type(pm.group(2))}"
            )
        mode = (
            "replace" if m.group(1) else
            "ifnotexists" if m.group(2) else ""
        )
        return CreateFunction(
            name=_ident(m.group(3), store),
            params=", ".join(params),
            returns=_map_column_type(tm.group(1)),
            body=body,
            mode=mode,
        )

    m = re.match(
        r"DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?([^\s(;]+)\s*;?\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        kind = (
            "drop_function_if_exists" if m.group(1) else "drop_function"
        )
        return Other(kind, _ident(m.group(2), store))

    m = re.match(
        r"CREATE\s+(?:UNIQUE\s+)?INDEX\s+\S+\s+ON\s+([^\s(]+)\s*\(",
        masked,
        re.IGNORECASE,
    )
    if m:
        # mcs73_indexes_keys: index DDL is accepted and has no planning
        # effect on a columnar engine (the reference stores no indexes;
        # extent min/max IS the index analogue)
        return Other("index_noop", _ident(m.group(1), store))

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+ADD\s+PRIMARY\s+KEY\s*\(([^)]*)\)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        return AddPrimaryKey(
            _ident(m.group(1), store),
            [_ident(c, store) for c in m.group(2).split(",") if c.strip()],
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+ADD\s+(?:UNIQUE\s+)?(?:INDEX|KEY)\b",
        masked,
        re.IGNORECASE,
    )
    if m:
        return Other("index_noop", _ident(m.group(1), store))

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+ADD\s+(?:COLUMN\s+)?(\S+)\s+(\S+)"
        r"(?:\s+DEFAULT\s+(\S+))?"
        r"(?:\s+(FIRST|AFTER\s+\S+))?\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        default = None
        if m.group(4) is not None:
            tok = _unmask(m.group(4), store)
            if re.fullmatch(r"'.*'", tok, re.DOTALL):
                default = tok[1:-1].replace("''", "'")
            elif re.fullmatch(r"-?\d+", tok):
                default = int(tok)
            elif re.fullmatch(r"-?\d*\.\d+", tok):
                default = float(tok)
            elif tok.upper() != "NULL":
                raise ValueError(
                    f"ADD COLUMN DEFAULT must be a literal, got {tok!r}"
                )
        after = None
        if m.group(5) is not None:
            place = m.group(5)
            if place.upper() == "FIRST":
                after = "__first__"
            else:
                after = _ident(
                    re.sub(r"AFTER\s+", "", place, flags=re.IGNORECASE),
                    store,
                )
        return Alter(
            table=_ident(m.group(1), store),
            action="add",
            column=_ident(m.group(2), store),
            dtype=_unmask(m.group(3), store),
            default=default,
            after=after,
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+DROP\s+(?:COLUMN\s+)?(\S+)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        return Alter(
            table=_ident(m.group(1), store),
            action="drop",
            column=_ident(m.group(2), store),
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+RENAME\s+COLUMN\s+(\S+)\s+TO\s+(\S+)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        # MariaDB 10.5 RENAME COLUMN (mcs87_alter_column shapes)
        return Alter(
            table=_ident(m.group(1), store),
            action="rename_col",
            column=_ident(m.group(2), store),
            expr=_ident(m.group(3), store),
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+CHANGE\s+(?:COLUMN\s+)?(\S+)\s+(\S+)\s+"
        r"(.+?)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        # CHANGE old new TYPE — rename + retype in one statement
        return Alter(
            table=_ident(m.group(1), store),
            action="change_col",
            column=_ident(m.group(2), store),
            expr=_ident(m.group(3), store),
            dtype=_map_column_type(_unmask(m.group(4), store)),
        )

    m = re.match(
        r"ALTER\s+TABLE\s+(\S+)\s+MODIFY\s+(?:COLUMN\s+)?(\S+)\s+(.+?)\s*$",
        masked,
        re.IGNORECASE,
    )
    if m:
        return Alter(
            table=_ident(m.group(1), store),
            action="modify_col",
            column=_ident(m.group(2), store),
            dtype=_map_column_type(_unmask(m.group(3), store)),
        )

    m = re.match(
        r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(\S+)\s+AS\s+",
        masked,
        re.IGNORECASE,
    )
    if m:
        return CreateView(
            name=_ident(m.group(2), store),
            select_sql=_unmask(rest_of(m), store),
            or_replace=bool(m.group(1)),
        )

    m = re.match(r"DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\S+)", masked, re.I)
    if m:
        return Other("drop_view", _ident(m.group(1), store))

    m = re.match(r"(?:DESCRIBE|DESC)\s+(\S+)", masked, re.IGNORECASE)
    if m:
        return Other("describe", _ident(m.group(1), store))

    raise ValueError(
        f"unsupported statement: {sql.strip().split(None, 1)[0]!r} — "
        "supported: SELECT/WITH/VALUES, INSERT [IGNORE] INTO "
        "[.. ON DUPLICATE KEY UPDATE], REPLACE INTO, UPDATE, DELETE, "
        "TRUNCATE, CREATE TABLE AS, ALTER TABLE ADD/DROP COLUMN, "
        "CREATE [OR REPLACE] VIEW, DROP VIEW, DESCRIBE"
    )
