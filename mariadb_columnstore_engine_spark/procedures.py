"""Stored programs: one interpreter for procedure CALLs and trigger bodies.

Reference analogue: mysqld runs procedure and trigger bodies on one
runtime (sp_head) and routes each body statement like any other
statement (SURVEY §3; mcs17_procedures_define_call_drop.test,
mcs60_trigger.test). Here ``statements.parse`` gives a body as a tree
of typed nodes, and ``Frame.block`` walks it, running each leaf
statement through ``Engine.execute``. A frame holds one running
program's state: locals, cursors, declared conditions and handlers,
the condition stack RESIGNAL reads, and the result sets its statements
returned.

A CALL (``Frame``) and a statement-level trigger body (``TriggerFrame``)
differ in two hooks:

- how a leaf is rewritten: locals substitute as literals in both; a
  trigger body also reads NEW.x/OLD.x from the affected-row relation,
  and a row-spelled INSERT becomes one INSERT … SELECT over it;
- how a condition is decided: a scalar for a CALL; for a trigger,
  whether ANY affected row satisfies it (the statement-level reading
  of FOR EACH ROW). A simple CASE compares its subject the same way.

The frames running in this thread form a stack, held in a ContextVar:
a trigger body's own DML fires no triggers (no cascade), and a
procedure already on the stack may not be CALLed again (MariaDB's
default max_sp_recursion_depth is 0).
"""

from __future__ import annotations

import re
from contextvars import ContextVar

from pyspark.sql import DataFrame

from mariadb_columnstore_engine_spark import statements as st
from mariadb_columnstore_engine_spark.functions.sqltrans import (
    _find_balanced,
    _mask,
    _split_top_level_commas,
    _top_level_search,
    _unmask,
)
from mariadb_columnstore_engine_spark.sources.triggers import rewrite_row_refs

#: loop iteration cap: a loop whose exit never comes must error, not
#: hang the session (the reference bounds runaway procedures with
#: max_recursive_iterations-style server limits)
WHILE_CAP = 10_000

#: cursor materialization cap: cursors are a row-at-a-time CLIENT
#: protocol, so OPEN collects to the driver — bounded, or the
#: procedure errors instead of pulling an unbounded result local
CURSOR_CAP = 100_000

#: the frames of the stored programs running in this thread, innermost last
_FRAMES: ContextVar[tuple] = ContextVar("stored_program_frames", default=())


def in_trigger() -> bool:
    """A trigger body is running in this thread."""
    return any(isinstance(f, TriggerFrame) for f in _FRAMES.get())


class SqlSignal(ValueError):
    """A raised SQL condition: ``SIGNAL SQLSTATE …`` (r8 — the mcs17
    family's error surface), cursor exhaustion (SQLSTATE 02000 /
    ER 1329), or any statement error re-classed for handler dispatch.
    Class per the SQL standard: '01…' = warning, '02…' = not found,
    anything else = exception (sql/sql_signal.cc assigns the same
    three classes)."""

    def __init__(self, sqlstate: str, errno=None, message=None):
        self.sqlstate = sqlstate
        self.errno = errno
        self.message = message
        #: RESIGNALed: passes outward, past this program's handlers
        self.resignaled = False
        txt = f"SQLSTATE {sqlstate}"
        if errno is not None:
            txt += f" (ER {errno})"
        if message:
            txt += f": {message}"
        super().__init__(txt)

    @property
    def condition_class(self) -> str:
        if self.sqlstate.startswith("01"):
            return "sqlwarning"
        if self.sqlstate.startswith("02"):
            return "not_found"
        return "sqlexception"


class _Unwind(Exception):
    """Interpreter control flow: never dispatched to SQL handlers."""


class _Exit(_Unwind):
    """An EXIT handler ran: the program ends."""


class _Jump(_Unwind):
    """LEAVE/ITERATE of a labeled loop."""

    def __init__(self, node: st.Jump):
        self.verb, self.label = node.verb, node.label
        super().__init__(f"{node.verb.upper()} {node.label}")


#: keywords after which an expression operand may follow; a name right
#: after any other word, ')' or a literal is an alias or a table name
_EXPR_KEYWORDS = frozenset({
    "AND", "OR", "XOR", "NOT", "IS", "IN", "LIKE", "RLIKE", "REGEXP",
    "ESCAPE", "BETWEEN", "THEN", "ELSE", "WHEN", "CASE", "SELECT", "WHERE",
    "HAVING", "BY", "ON", "DISTINCT", "ALL", "LIMIT", "OFFSET", "MOD", "DIV",
    "RETURN", "IF", "ELSEIF", "WHILE", "UNTIL", "DO", "SET", "INTERVAL",
    "OVER", "VALUES", "THAN", "SEPARATOR", "UNION", "EXCEPT", "INTERSECT",
})

_INSERT_COLUMNS = re.compile(
    r"\s*(?:INSERT|REPLACE)\b[\w\s]*?\bINTO\s+[^\s(]+\s*\(", re.IGNORECASE
)
_SET_LIST = re.compile(
    r"^\s*UPDATE\b.*?\bSET\b"
    r"|^\s*(?:INSERT|REPLACE)\b[\w\s]*?\bINTO\s+[^\s(]+\s+SET\b"
    r"|\bON\s+DUPLICATE\s+KEY\s+UPDATE\b",
    re.IGNORECASE | re.DOTALL,
)


def _assigned_columns(masked: str) -> set[int]:
    """Offsets of the names an INSERT column list or a SET list (UPDATE,
    INSERT … SET, ON DUPLICATE KEY UPDATE) assigns. MariaDB's grammar
    reads them as columns (simple_ident_nospvar), never as locals."""
    found = set()
    m = _INSERT_COLUMNS.match(masked)
    if m:
        end = _find_balanced(masked, m.end() - 1)
        found.update(
            w.start() for w in re.compile(r"\w+").finditer(masked, m.end(), end)
        )
    for m in _SET_LIST.finditer(masked):
        at = m.end()
        stop = _top_level_search(
            r"\b(?:WHERE|ORDER|LIMIT|RETURNING|ON)\b", masked[at:]
        )
        for part in _split_top_level_commas(
            masked[at : at + stop.start()] if stop else masked[at:]
        ):
            am = re.match(r"\s*(\w+)\s*:?=", part)
            if am:
                found.add(at + am.start(1))
            at += len(part) + 1
    return found


def _substitute(sql: str, locals_: dict, render) -> str:
    """``sql`` with each local in an expression position replaced by
    ``render`` of its current value: MariaDB gives a local precedence
    over a same-named column. Mask-aware: a name inside a literal never
    rewrites. An alias (``AS v`` or bare), a qualified name, a @variable
    and an assigned column keep their spelling."""
    if not locals_:
        return sql
    masked, store = _mask(sql)
    assigned = _assigned_columns(masked)

    def local(mo):
        name = mo.group(2).lower()
        at = mo.start(2)
        if mo.group(1) or name not in locals_ or at in assigned:
            return mo.group(0)
        if masked[at - 1 : at] == "." or masked[mo.end() : mo.end() + 1] == ".":
            return mo.group(0)
        before = masked[:at].rstrip()
        if before[-1:] in (")", "\x00", "@"):
            return mo.group(0)
        word = re.search(r"[\w$]+$", before)
        if word and word.group(0).upper() not in _EXPR_KEYWORDS:
            return mo.group(0)
        return render(locals_[name])

    return _unmask(
        re.sub(r"\b(AS\s+)?(\w+)\b", local, masked, flags=re.IGNORECASE), store
    )


def _scalar(engine, expr: str, dialect: str):
    """The value of one scalar expression."""
    r = engine.execute(f"SELECT ({expr}) AS v", dialect=dialect)
    return r.collect()[0][0] if isinstance(r, DataFrame) else r


class Frame:
    """One running stored program; as is, a procedure CALL."""

    def __init__(self, engine, dialect: str, name: str, body: list):
        self.engine, self.dialect, self.name, self.body = (
            engine, dialect, name, body,
        )
        self.locals: dict[str, object] = {}
        #: name → declared SELECT, materialized rows, position, width
        self.cursors: dict[str, dict] = {}
        self.conditions: dict[str, st.Condition] = {}
        self.handlers: list[st.Handler] = []
        #: conditions whose handlers are running; RESIGNAL reads the top
        self.cond_stack: list[SqlSignal] = []
        self.running: set[int] = set()
        self.results: list[DataFrame] = []

    # --- the hooks a trigger body overrides ---------------------------

    def rewrite(self, sql: str) -> str:
        """A body statement or expression, as it runs."""
        return _substitute(sql, self.locals, self.engine._render_uservar_literal)

    def truthy(self, cond: str) -> bool:
        """MariaDB boolean context: true iff non-NULL and non-zero."""
        v = self.value(cond)
        return v is not None and v != 0

    def subject(self, expr: str) -> str:
        """A simple CASE's subject, evaluated once."""
        return self.engine._render_uservar_literal(self.value(expr))

    # --- running nodes ------------------------------------------------

    def execute(self, sql: str):
        return self.engine.execute(sql, dialect=self.dialect)

    def value(self, expr: str):
        return _scalar(self.engine, self.rewrite(expr), self.dialect)

    def block(self, nodes: list) -> None:
        """Run ``nodes``. An error dispatches to the handlers at the
        statement that raised it, so CONTINUE resumes with the next
        statement of the innermost block (mysqld's granularity)."""
        for node in nodes:
            try:
                getattr(self, "_" + node.kind)(node)
            except _Unwind:
                raise
            except SqlSignal as e:
                self._dispatch(e)
            except Exception as e:
                self._dispatch(SqlSignal("HY000", None, str(e)), original=e)

    def _matches(self, cond: st.Condition, sig: SqlSignal) -> bool:
        kind, val = cond
        if kind == "name":
            kind, val = self.conditions.get(val, ("", None))
        if kind == "sqlstate":
            return sig.sqlstate == val
        if kind == "errno":
            return sig.errno == val
        return kind == "class" and sig.condition_class == val

    def _dispatch(self, sig: SqlSignal, original=None) -> None:
        """Run the handler for ``sig``, then CONTINUE (return) or EXIT.
        A handler for a SQLSTATE, errno or name outranks a class
        handler, and a running handler is not eligible for its own
        errors (both as in mysqld). Without a handler: re-raise, except
        a warning, which proceeds like mysqld's pushed warning."""
        handler = None
        if not sig.resignaled:
            handler = next(
                (
                    h
                    for specific in (True, False)
                    for h in self.handlers
                    if id(h) not in self.running
                    and any(
                        self._matches(c, sig)
                        for c in h.conditions
                        if (c[0] != "class") == specific
                    )
                ),
                None,
            )
        if handler is None:
            if original is not None:
                raise original
            if sig.condition_class == "sqlwarning":
                return
            raise sig
        self.cond_stack.append(sig)
        self.running.add(id(handler))
        try:
            self.block(handler.body)
        finally:
            self.running.discard(id(handler))
            self.cond_stack.pop()
        if handler.action == "EXIT":
            raise _Exit()

    def _stmt(self, node: st.Stmt) -> None:
        masked, store = _mask(node.sql)
        # SET over locals: each assignment to a local evaluates here;
        # the rest (@variables, sysvars) run as their own SET
        sm = re.match(
            r"\s*SET\s+(?!(?:GLOBAL|SESSION)\b)(\S.*)$",
            masked,
            re.IGNORECASE | re.DOTALL,
        )
        if sm:
            parts = _split_top_level_commas(sm.group(1))
            rest = []
            for part in parts:
                am = re.match(r"\s*(\w+)\s*:?=\s*(.+?)\s*$", part, re.DOTALL)
                if am and am.group(1).lower() in self.locals:
                    self.locals[am.group(1).lower()] = self.value(
                        _unmask(am.group(2), store)
                    )
                else:
                    rest.append(part)
            if len(rest) < len(parts):
                for part in rest:
                    self.execute(self.rewrite("SET " + _unmask(part, store)))
                return
        # SELECT … INTO <local> captures the one value
        im = re.search(r"\sINTO\s+(\w+)\s", masked + " ", re.IGNORECASE)
        into = im.group(1).lower() if im else None
        if into in self.locals:
            masked = masked[: im.start()] + " " + (masked + " ")[im.end() :]
        r = self.execute(self.rewrite(_unmask(masked, store).strip()))
        if into in self.locals:
            rows = r.collect() if isinstance(r, DataFrame) else r
            if len(rows) != 1 or len(rows[0]) != 1:
                raise ValueError(
                    "SELECT INTO <param> needs exactly one row/column, got "
                    f"{len(rows)} row(s)"
                )
            self.locals[into] = rows[0][0]
        elif isinstance(r, DataFrame):
            # a CALL returns its last result set; SET and DML statuses
            # are not result sets
            self.results.append(r)

    def _if(self, node: st.If, subject: str | None = None) -> None:
        for cond, body in node.arms:
            if subject is not None:
                cond = f"({subject}) = ({cond})"
            if self.truthy(cond):
                return self.block(body)
        if node.orelse is not None:
            return self.block(node.orelse)
        if node.kind == "case":
            raise SqlSignal("20000", 1339, "Case not found for CASE statement")

    def _case(self, node: st.Case) -> None:
        self._if(node, node.subject and self.subject(node.subject))

    def _loop(self, node: st.Loop) -> None:
        passes = 0
        while node.loop != "while" or self.truthy(node.cond):
            passes += 1
            if passes > WHILE_CAP:
                raise ValueError(
                    f"{node.loop.upper()} exceeded {WHILE_CAP} iterations "
                    "(runaway-procedure guard)"
                )
            try:
                self.block(node.body)
            except _Jump as j:
                if j.label != node.label:
                    raise
                if j.verb == "leave":
                    return
                continue  # ITERATE: the next pass (REPEAT skips UNTIL)
            if node.loop == "repeat" and self.truthy(node.cond):
                return

    def _jump(self, node: st.Jump) -> None:
        raise _Jump(node)

    def _declare(self, node: st.Declare) -> None:
        for name in node.names:
            self.locals[name] = (
                None if node.default is None else self.value(node.default)
            )

    def _condition(self, node: st.DeclareCondition) -> None:
        self.conditions[node.name] = node.value

    def _handler(self, node: st.Handler) -> None:
        self.handlers.append(node)

    def _signal(self, node: st.Signal) -> None:
        if node.condition is None:  # RESIGNAL
            if not self.cond_stack:
                raise ValueError("RESIGNAL when handler not active (ER 1645)")
            cur = self.cond_stack[-1]
            sig = SqlSignal(
                cur.sqlstate,
                cur.errno if node.errno is None else node.errno,
                cur.message if node.message is None else node.message,
            )
            sig.resignaled = True
            raise sig
        kind, state = node.condition
        if kind == "name":
            if state not in self.conditions:
                raise ValueError(f"SIGNAL of undeclared condition {state!r}")
            kind, state = self.conditions[state]
            if kind != "sqlstate":
                raise ValueError(
                    "SIGNAL requires a condition declared with SQLSTATE "
                    "(ER_SIGNAL_BAD_CONDITION_TYPE)"
                )
        errno = node.errno
        if errno is None:
            # mysqld's defaults: ER_SIGNAL_WARN / _NOT_FOUND /
            # _EXCEPTION by condition class (sql_signal.cc)
            errno = (
                1642 if state.startswith("01")
                else 1643 if state.startswith("02") else 1644
            )
        raise SqlSignal(state, errno, node.message)

    def _cursor(self, node: st.DeclareCursor) -> None:
        self.cursors[node.name] = {
            "sql": node.sql, "rows": None, "pos": 0, "width": None,
        }

    def _open(self, node: st.Open) -> None:
        cur = self.cursors.get(node.cursor)
        if cur is None:
            raise ValueError(f"OPEN of undeclared cursor {node.cursor!r}")
        # MariaDB evaluates the cursor SELECT at OPEN; the bounded
        # collect IS the semantics of a row-at-a-time FETCH
        r = self.execute(self.rewrite(cur["sql"]))
        if isinstance(r, DataFrame):
            # ship only the FETCH INTO columns (a positional prefix);
            # FETCH's ER 1328 width check still sees the declared width
            cur["width"] = len(r.columns)
            widths = {
                len(n.into) for n in st.walk(self.body)
                if n.kind == "fetch" and n.cursor == node.cursor
            }
            if len(widths) == 1 and min(widths) < cur["width"]:
                r = r.select(r.columns[: min(widths)])
            rows = r.limit(CURSOR_CAP + 1).collect()
        else:
            rows = list(r)
        if len(rows) > CURSOR_CAP:
            raise ValueError(
                f"cursor {node.cursor!r} SELECT exceeds the {CURSOR_CAP}-row "
                "cursor cap — cursors are driver-side row-at-a-time "
                "iteration; rewrite as a set-based statement for unbounded "
                "results"
            )
        cur.update(rows=rows, pos=0)

    def _fetch(self, node: st.Fetch) -> None:
        cur = self.cursors.get(node.cursor)
        if cur is None or cur["rows"] is None:
            raise ValueError(
                f"FETCH from cursor {node.cursor!r} which is not open"
            )
        for name in node.into:
            if name not in self.locals:
                raise ValueError(
                    f"FETCH INTO {name!r}: not a declared local variable or "
                    "parameter"
                )
        if cur["pos"] >= len(cur["rows"]):
            # exhausted: the NOT FOUND condition (MariaDB ER 1329)
            raise SqlSignal(
                "02000",
                1329,
                "No data - zero rows fetched, selected, or processed",
            )
        row = cur["rows"][cur["pos"]]
        cur["pos"] += 1
        width = len(row) if cur["width"] is None else cur["width"]
        if width != len(node.into):
            raise ValueError(
                f"FETCH INTO expects {width} target(s) for cursor "
                f"{node.cursor!r}, got {len(node.into)}"
            )
        self.locals.update(zip(node.into, row))

    def _close(self, node: st.Close) -> None:
        if node.cursor not in self.cursors:
            raise ValueError(f"CLOSE of undeclared cursor {node.cursor!r}")
        self.cursors[node.cursor].update(rows=None, pos=0)


class TriggerFrame(Frame):
    """A trigger body, run once per statement over the affected-row
    relation registered as ``view``. It carries the post-image columns
    by name and, for UPDATE/DELETE, the pre-image under
    ``__old_<name>``."""

    def __init__(self, engine, dialect: str, trigger, view: str):
        super().__init__(engine, dialect, trigger.name, trigger.body)
        self.view = view

    def rewrite(self, sql: str) -> str:
        """NEW.x/OLD.x read the affected relation. A row-spelled INSERT
        becomes set-based: VALUES (NEW.a, 1) → SELECT NEW.a, 1 FROM
        <view> (one row per affected row), and an INSERT … SELECT with
        no top-level FROM gains FROM <view>."""
        s = rewrite_row_refs(super().rewrite(sql), view=self.view)
        if self.view not in s:
            return s
        m = re.match(
            r"(\s*INSERT\s+INTO\s+[\w`]+(?:\s*\([^)]*\))?)\s+VALUES\s*"
            r"\((.*)\)\s*;?\s*$",
            s,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return f"{m.group(1)} SELECT {m.group(2)} FROM {self.view}"
        if re.match(
            r"\s*INSERT\s+INTO\s+.*\bSELECT\b", s, re.IGNORECASE | re.DOTALL
        ) and not _top_level_search(r"\bFROM\b", _mask(s)[0]):
            # a FROM inside a scalar subquery does not bind the outer list
            return f"{s.rstrip().rstrip(';')} FROM {self.view}"
        return s

    def truthy(self, cond: str) -> bool:
        """Existential: any affected row satisfies ``cond``."""
        return bool(
            self.execute(
                f"SELECT max(CASE WHEN {self.rewrite(cond)} THEN 1 ELSE 0 "
                f"END) AS f FROM {self.view}"
            ).collect()[0][0]
        )

    def subject(self, expr: str) -> str:
        return expr  # compared per row, then existentially


def _run(frame: Frame) -> None:
    """Run a frame's body: the one entry for CALLs and trigger bodies."""
    token = _FRAMES.set(_FRAMES.get() + (frame,))
    try:
        frame.block(frame.body)
    except _Exit:
        pass  # an EXIT handler ended the program; the CALL completes
    except _Jump as j:
        raise ValueError(
            f"{j.verb.upper()} {j.label!r} does not match any enclosing "
            "labeled loop (ER_SP_LILABEL_MISMATCH)"
        ) from None
    finally:
        _FRAMES.reset(token)


def call(engine, proc: st.CreateProcedure, args: list[str], dialect: str):
    """CALL ``proc`` with the call-site ``args``; its last result set.

    IN arguments are evaluated in the caller's scope and become locals.
    OUT/INOUT arguments must be @variables (ER_SP_NOT_VAR_ARG); they
    receive the parameter's value when the body ends."""
    if len(args) != len(proc.params):
        raise ValueError(
            f"procedure {proc.name!r} expects {len(proc.params)} "
            f"argument(s), got {len(args)} (ER_SP_WRONG_NO_OF_ARGS)"
        )
    if any(
        type(f) is Frame and f.name == proc.name for f in _FRAMES.get()
    ):
        raise SqlSignal(
            "HY000",
            1456,
            "Recursive limit 0 (as set by the max_sp_recursion_depth "
            f"variable) was exceeded for routine {proc.name}",
        )
    frame = Frame(engine, dialect, proc.name, proc.body)
    outs: dict[str, str] = {}
    for (mode, name, _), arg in zip(proc.params, args):
        if mode == "IN":
            frame.locals[name] = _scalar(engine, arg, dialect)
            continue
        if not re.fullmatch(r"@\w+", arg):
            raise ValueError(
                f"{mode} argument for {name!r} must be a @variable "
                "(ER_SP_NOT_VAR_ARG)"
            )
        outs[name] = arg[1:]
        # OUT reads NULL until assigned; INOUT carries the caller's value
        frame.locals[name] = (
            engine._user_vars.get(arg[1:]) if mode == "INOUT" else None
        )
    _run(frame)
    for name, var in outs.items():
        engine._user_vars[var] = frame.locals[name]
    return frame.results[-1] if frame.results else None


#: node kinds a trigger body may hold: loops and cursors have no
#: set-based reading
_TRIGGER_KINDS = frozenset(
    {"stmt", "if", "case", "declare", "condition", "handler", "signal"}
)


def check_trigger_body(body: list) -> None:
    """Refuse, anywhere in the tree, a node a trigger body cannot run."""
    for node in st.walk(body):
        if node.kind not in _TRIGGER_KINDS:
            what = "loops" if node.kind in ("loop", "jump") else "cursors"
            raise ValueError(
                f"{what} in trigger bodies have no set-based reading and "
                "are not supported"
            )


def fire(engine, triggers: list, event: str, affected, dialect: str) -> None:
    """Run statement-level trigger bodies over the ``affected`` rows."""
    view = f"_trg_affected_{event.lower()}"
    affected.createOrReplaceTempView(view)
    try:
        for trigger in triggers:
            _run(TriggerFrame(engine, dialect, trigger, view))
    finally:
        engine.spark.catalog.dropTempView(view)
