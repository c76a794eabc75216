"""Triggers, re-expressed set-based (mcs60_trigger.test; MariaDB
CREATE TRIGGER ... FOR EACH ROW).

Reference analogue: mysqld fires row triggers FOR EACH ROW around
ColumnStore DML (mysql-test/columnstore/basic/t/mcs60_trigger.test:
a BEFORE INSERT trigger rewrites NEW.j; the UPDATE-trigger half is
commented out pending the reference's own MCOL-4273). Row-at-a-time
trigger procedures cannot run on a distributed columnar engine without
serializing every batch through the driver — so this module interprets
the SUPPORTED subset as set operations over the whole affected-row
relation, which is the only interpretation that survives a 100 TB
INSERT:

- ``BEFORE INSERT`` / ``BEFORE UPDATE`` bodies made of ``SET NEW.c =
  expr`` statements and ``IF .. THEN .. [ELSEIF ..] [ELSE ..] END IF``
  blocks over them are SYMBOLICALLY evaluated into one per-column
  expression (nested CASE WHEN), applied to the incoming rows as a
  single codegen'd projection — no UDF, no driver loop.
- ``AFTER INSERT/UPDATE/DELETE`` bodies run ONCE per statement against
  a relation of the affected rows exposed through the ``NEW.x`` /
  ``OLD.x`` spellings (rewritten to columns of that relation by
  ``rewrite_row_refs``). The interpreter in procedures.py runs them: a
  body statement like ``INSERT INTO audit VALUES (NEW.id, ...)``
  becomes an ``INSERT .. SELECT`` over the affected rows — the
  set-based audit pattern — and ``IF``/``CASE`` over NEW/OLD quantify
  existentially: a branch fires iff ANY affected row satisfies its
  condition (the only coherent statement-level reading of the MTR's
  ``IF NEW.j = 30 THEN SET @fired = 'Yes'`` idiom).

Anything else (loops and cursors in bodies, SET NEW from subqueries,
statement kinds the set reading cannot honor) is refused at CREATE
TRIGGER time — honest refusal over silent row-order-dependent
mistranslation.
"""

from __future__ import annotations

import re

__all__ = [
    "compile_before_transform",
    "rewrite_row_refs",
]


def _subst_refs(expr: str, env: dict[str, str]) -> str:
    """Rewrite NEW.x references in ``expr`` to the current symbolic
    expression for x, and OLD.x (UPDATE) to the bare column. Mask-aware:
    a dotted spelling inside a string literal never rewrites."""
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        _mask,
        _unmask,
    )

    masked, store = _mask(expr)

    # single pass: re.sub never rescans replacement text, so an env
    # expression containing a (already-substituted) literal can't be
    # rewritten again
    def _ref(mo):
        which = mo.group(1).upper()
        col = mo.group(2).strip("`").lower()
        if which == "NEW":
            if col not in env:
                raise ValueError(
                    f"trigger references unknown column NEW.{col}"
                )
            return f"({env[col]})"
        return f"`{col}`"

    out = re.sub(
        r"\b(NEW|OLD)\s*\.\s*([\w`]+)",
        _ref,
        masked,
        flags=re.IGNORECASE,
    )
    return _unmask(out, store)


def compile_before_transform(
    body_nodes,
    columns: list[str],
    *,
    base_env: dict[str, str] | None = None,
) -> dict[str, str]:
    """Symbolically evaluate a BEFORE-trigger body into one SQL
    expression per (modified) column.

    ``body_nodes`` is the trigger's parsed body (``statements.parse``
    gives stored procedures the same node tree). Returns {column: expr_sql}
    for every column any path modifies; expressions reference the
    incoming row's ORIGINAL columns by (backticked) name, so the
    caller applies them as one parallel projection (CASE WHEN nests
    encode branch conditions — MariaDB's sequential SET visibility is
    preserved because each SET substitutes the env built so far).

    For UPDATE triggers, ``base_env`` carries the
    user UPDATE's assignment expressions (NEW.x starts as the assigned
    value; unassigned columns start as OLD values) and OLD.x references
    stay bare column names — the caller evaluates the result against
    the PRE-update row.
    """
    env: dict[str, str] = (
        dict(base_env)
        if base_env is not None
        else {c.lower(): f"`{c}`" for c in columns}
    )
    colcase = {c.lower(): c for c in columns}

    def run(nodes, env: dict[str, str]) -> dict[str, str]:
        for node in nodes:
            if node.kind == "stmt":
                sm = re.match(
                    r"\s*SET\s+(.+)$", node.sql, re.IGNORECASE | re.DOTALL
                )
                if not sm:
                    raise ValueError(
                        "BEFORE triggers support only SET NEW.col = "
                        f"expr statements and IF blocks; got: "
                        f"{node.sql[:60]!r}"
                    )
                for part in _split_commas(sm.group(1)):
                    am = re.match(
                        r"\s*NEW\s*\.\s*([\w`]+)\s*:?=\s*(.+?)\s*$",
                        part,
                        re.IGNORECASE | re.DOTALL,
                    )
                    if not am:
                        raise ValueError(
                            "BEFORE trigger SET must assign NEW.col "
                            f"(got {part[:60]!r})"
                        )
                    col = am.group(1).strip("`").lower()
                    if col not in env:
                        raise ValueError(
                            f"trigger SET targets unknown column "
                            f"NEW.{col}"
                        )
                    env[col] = _subst_refs(am.group(2), env)
            elif node.kind == "if":
                # evaluate every branch against the env BEFORE the IF
                # (MariaDB evaluates conditions on entry), then merge
                # into per-column CASE expressions
                arms = []
                for cond, bnodes in node.arms:
                    cond_sql = _subst_refs(cond, env)
                    arm_env = run(bnodes, dict(env))
                    arms.append((cond_sql, arm_env))
                else_env = run(node.orelse or [], dict(env))
                touched = set()
                for _, e in arms:
                    touched |= {c for c in e if e[c] != env[c]}
                touched |= {
                    c for c in else_env if else_env[c] != env[c]
                }
                for c in touched:
                    whens = " ".join(
                        f"WHEN ({cond}) THEN ({e.get(c, env[c])})"
                        for cond, e in arms
                    )
                    env[c] = (
                        f"CASE {whens} ELSE "
                        f"({else_env.get(c, env[c])}) END"
                    )
            else:
                raise ValueError(
                    f"unsupported construct in BEFORE trigger body: "
                    f"{node.kind} (only SET NEW.col and IF have a "
                    "set-based row transform)"
                )
        return env

    final = run(body_nodes, env)
    orig = (
        dict(base_env)
        if base_env is not None
        else {c.lower(): f"`{c}`" for c in columns}
    )
    return {
        colcase.get(c, c): e for c, e in final.items() if e != orig.get(c)
    }


def _split_commas(text: str) -> list[str]:
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        _mask,
        _split_top_level_commas,
        _unmask,
    )

    masked, store = _mask(text)
    return [_unmask(p, store) for p in _split_top_level_commas(masked)]


def rewrite_row_refs(stmt: str, *, view: str) -> str:
    """Rewrite NEW.x / OLD.x in an AFTER-trigger body statement to
    columns of the affected-rows relation registered as ``view``:
    NEW.x → <view>.x, OLD.x → <view>.__old_x (the relation carries
    pre-image columns under the __old_ prefix for UPDATE/DELETE;
    statements.parse refuses the row image an event lacks).
    Mask-aware: literals never rewrite."""
    from mariadb_columnstore_engine_spark.functions.sqltrans import (
        _mask,
        _unmask,
    )

    masked, store = _mask(stmt)

    def _ref(mo):
        old = "__old_" if mo.group(1).upper() == "OLD" else ""
        return f"{view}.`{old}{mo.group(2).strip('`').lower()}`"

    masked = re.sub(
        r"\b(NEW|OLD)\s*\.\s*([\w`]+)", _ref, masked, flags=re.IGNORECASE
    )
    return _unmask(masked, store)
