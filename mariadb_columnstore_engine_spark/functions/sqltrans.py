"""MariaDB → Spark SQL statement translation (the front-end dialect pass).

Reference analogue: the reference never parses SQL itself — mysqld does,
and the plugin receives a resolved item tree (SURVEY §3, getSelectPlan,
dbcon/mysql/ha_mcs_execplan.cpp:7436). A user switching to this engine
types MariaDB SQL at ``Engine.sql``; Spark's parser covers the ANSI core,
and this pass rewrites the MariaDB-isms Spark spells differently:

* ``#`` end-of-line comments → ``--``
* SELECT options with no Spark meaning are stripped
  (SQL_CALC_FOUND_ROWS, SQL_NO_CACHE, …); ``STRAIGHT_JOIN`` as a join
  keyword becomes ``JOIN`` (join-order forcing is a CBO hint in Spark,
  not a parse-level construct)
* ``LIMIT offset, count`` → ``LIMIT count OFFSET offset``
* ``GROUP_CONCAT([DISTINCT] expr [ORDER BY …] [SEPARATOR 'sep'])`` →
  ``listagg([DISTINCT] expr, 'sep') [WITHIN GROUP (ORDER BY …)]``
* MariaDB functions Spark lacks or spells differently → the function
  table ``_FUNCTIONS`` (below)
* trailing ``;`` is dropped

Everything runs over a MASKED statement — string literals, quoted
identifiers, and comments are replaced by ``\\x00<n>\\x00`` placeholders
first — so no rewrite can ever fire inside a literal.

Function calls are found by one call scanner, ``_scan_calls``: it finds
``NAME(``, balances the parentheses, splits the arguments, lowers each
argument first (so nested calls, same name included, lower
innermost-first) and then the call, or leaves the call as written. The
quoted literals of every lowering are masked into the statement's store
before it is spliced in, so no later pass ever scans a raw quote.

The function table gives each MariaDB name exactly one lowering, as the
reference's funcexp dispatch table gives each one implementation
(utils/funcexp/funcexp.cpp:67-263):

* a SQL template, for functions only SQL has (TO_DAYS, STRCMP, …);
* or the ``dialect`` Column helper the registry plans call too
  (SEC_TO_TIME, PERIOD_ADD, WEEK, DATE_FORMAT, STR_TO_DATE, …), rendered
  to SQL text through Catalyst's analyzed plan, so both surfaces give
  the same answer. Rendering needs an active SparkSession the first time
  a (name, arity, literal parameters) key is seen; the template is then
  cached. STR_TO_DATE yields DATE for a date-only format and TIMESTAMP
  when the format has a time part, as in MariaDB.

Constructs with no faithful Spark spelling (JSON_DETAILED, a non-literal
format string, an unsupported format specifier) raise ValueError instead
of silently mistranslating.

Already-identical spellings need no rewrite and are left alone:
backtick identifiers, ``DIV``, ``%``, ``REGEXP``, ``IF()``, ``IFNULL``,
``LCASE/UCASE``, ``CURDATE()``, ``DATEDIFF`` argument order.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from mariadb_columnstore_engine_spark.functions import dialect, json_ext

_PH = "\x00{}\x00"
_PH_RE = re.compile("\x00(\\d+)\x00")

_SELECT_OPTIONS = (
    "SQL_CALC_FOUND_ROWS|SQL_NO_CACHE|SQL_CACHE|HIGH_PRIORITY|"
    "SQL_SMALL_RESULT|SQL_BIG_RESULT|SQL_BUFFER_RESULT"
)


def _mask(
    sql: str, store: list[str] | None = None
) -> tuple[str, list[str]]:
    """Replace literals/quoted identifiers/comments with placeholders.

    ``#`` comments are converted to ``--`` form as they are stored.
    MariaDB escapes handled inside quotes: doubling ('') and backslash.
    Given a ``store``, the new placeholders append to it (placeholders
    already in ``sql`` stay as they are).
    """
    out: list[str] = []
    store = [] if store is None else store
    i, n = 0, len(sql)

    def stash(text: str) -> None:
        out.append(_PH.format(len(store)))
        store.append(text)

    while i < n:
        ch = sql[i]
        if ch in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == "\\" and ch != "`" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == ch:
                    if j + 1 < n and sql[j + 1] == ch:  # doubled quote
                        j += 2
                        continue
                    break
                j += 1
            stash(sql[i : min(j + 1, n)])
            i = j + 1
        elif ch == "#":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            stash("--" + sql[i + 1 : j])
            i = j
        elif ch == "-" and sql[i : i + 2] == "--":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            stash(sql[i:j])
            i = j
        elif ch == "/" and sql[i : i + 2] == "/*":
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            stash(sql[i:j])
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out), store


def _unmask(masked: str, store: list[str]) -> str:
    return _PH_RE.sub(lambda m: store[int(m.group(1))], masked)


def _find_balanced(masked: str, open_at: int) -> int:
    """Index just past the ``)`` matching the ``(`` at ``open_at``.
    Placeholders contain no parens, so a flat scan is exact."""
    depth = 0
    for j in range(open_at, len(masked)):
        if masked[j] == "(":
            depth += 1
        elif masked[j] == ")":
            depth -= 1
            if depth == 0:
                return j + 1
    raise ValueError("unbalanced parentheses in SQL statement")


def _top_level_search(pattern: str, s: str) -> re.Match | None:
    """First regex match at paren depth 0 of ``s``."""
    depth = 0
    for m in re.finditer(r"[()]|" + pattern, s, re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return m
    return None


def _split_top_level_commas(s: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for j, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:j])
            start = j + 1
    parts.append(s[start:])
    return parts


def _string_literal(text: str) -> str:
    """Spark single-quoted literal (backslash escaping — '' doubling
    would parse as two adjacent concatenated literals in Spark)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _literal_text(ph: str, store: list[str]) -> str | None:
    """Raw contents if ``ph`` is exactly one string-literal placeholder."""
    m = re.fullmatch("\x00(\\d+)\x00", ph.strip())
    if not m:
        return None
    raw = store[int(m.group(1))]
    if raw[:1] not in ("'", '"'):
        return None
    body = raw[1:-1]
    body = body.replace(raw[0] * 2, raw[0])
    body = re.sub(r"\\(.)", r"\1", body)
    return body


# ---- the call scanner -----------------------------------------------------


def _scan_calls(masked: str, store: list[str], pattern, table) -> str:
    """The one call scanner. For each ``NAME(`` that ``pattern`` finds
    (group 1 is the name, the match ends at the ``(``): balance the
    parentheses, split the arguments at top-level commas and lower each
    argument first — so nested calls, same name included, lower
    innermost-first — then ``table[NAME](NAME, args, store)`` gives the
    replacement, or None to leave the call as written. The quoted
    literals of a replacement are masked into ``store`` before it is
    spliced in. A statement without a match costs one regex scan."""
    out, i = [], 0
    while m := pattern.search(masked, i):
        open_at = m.end() - 1
        end = _find_balanced(masked, open_at)
        pieces = [
            _scan_calls(p, store, pattern, table)
            for p in _split_top_level_commas(masked[open_at + 1 : end - 1])
        ]
        args = [p.strip() for p in pieces]
        name = m.group(1).upper()
        repl = table[name](name, [] if args == [""] else args, store)
        if repl is None:
            repl = masked[m.start() : open_at + 1] + ",".join(pieces) + ")"
        elif "'" in repl:
            repl = _mask(repl, store)[0]
        out.append(masked[i : m.start()])
        out.append(repl)
        i = end
    out.append(masked[i:])
    return "".join(out)


def _call_pass(table: dict):
    """A rewrite pass ``(masked, store) -> masked`` lowering the calls
    of ``table``'s names through the call scanner."""
    pattern = re.compile(r"\b(" + "|".join(table) + r")\s*\(", re.IGNORECASE)
    return lambda masked, store: _scan_calls(masked, store, pattern, table)


def _arity(name: str, args: list[str], n: int) -> None:
    if len(args) != n:
        raise ValueError(f"{name} expects {n} argument(s)")


#: operands that need no parentheses: a name, a number, a masked
#: literal or a template slot
_OPERAND_RE = re.compile(r"[A-Za-z_][\w.]*|\x00\d+\x00|\d+(?:\.\d*)?|\{\d+\}")
#: start of a call, or of a parenthesized group (keyword-led forms such
#: as NOT (x) or EXISTS (q) are operators, not calls)
_CALL_HEAD_RE = re.compile(
    r"(?!(?:NOT|EXISTS|INTERVAL|CASE)\()[A-Za-z_]\w*(?=\()|(?=\()",
    re.IGNORECASE,
)


def _operand(x: str) -> str:
    """Masked ``x`` as one operand: unchanged when it already is one (a
    name, number, masked literal, call or parenthesized group),
    parenthesized otherwise."""
    if _OPERAND_RE.fullmatch(x):
        return x
    m = _CALL_HEAD_RE.match(x)
    if m and _find_balanced(x, m.end()) == len(x):
        return x
    return f"({x})"


_SLOT_RE = re.compile(r"\{(\d+)\}")


class _Template:
    """SQL text with ``{k}`` argument slots, its quoted literals masked
    out at construction, so a fill never scans raw quotes."""

    def __init__(self, sql: str) -> None:
        text, self.literals = _mask(sql)
        self.text = _operand(text)

    def fill(self, args: list[str], store: list[str]) -> str:
        base = len(store)
        store.extend(self.literals)
        text = _PH_RE.sub(
            lambda m: _PH.format(base + int(m.group(1))), self.text
        )
        args = [_operand(a) for a in args]
        return _SLOT_RE.sub(lambda m: args[int(m.group(1))], text)


# ---- the Catalyst renderer ------------------------------------------------
#
# A function the registry plans also call has its one definition in the
# dialect layer as a (unit-tested) Column expression. The renderer turns
# that Column into SQL text through Catalyst's analyzed plan, so the SQL
# front end runs exactly the same semantics instead of a parallel
# formula. Each probe column is typed so analysis adds no implicit cast
# the real argument would not need ("void" = the NULL type, for
# arguments of any type).

_ARG_RE = re.compile(r"__mcs_arg(\d+)__")
_TPL_CACHE: dict = {}


def _render(
    name: str, build, arg_types: tuple, params: tuple = ()
) -> _Template:
    """Template of ``build(arg0, …)`` over one probe column per entry
    of ``arg_types``, cached by name, arity and the literal ``params``
    that ``build`` closes over."""
    key = (name, len(arg_types), *params)
    tpl = _TPL_CACHE.get(key)
    if tpl is not None:
        return tpl
    # getActiveSession() resolves through a JVM-thread-local, and py4j
    # maps each *Python* thread to its own JVM thread — so a worker
    # thread that never built the session sees None even while the
    # process has one running. Fall back to the process-global
    # instantiated session (set on creation, cleared on stop).
    spark = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    if spark is None:
        raise ValueError(
            f"{name} translation needs an active SparkSession"
            " (use Engine.sql, or start a session first)"
        )
    names = [f"__mcs_arg{k}__" for k in range(len(arg_types))]
    probes = [
        (F.lit(None) if t == "void" else F.lit(None).cast(t)).alias(n)
        for n, t in zip(names, arg_types)
    ]
    df = spark.range(1).select(*probes).select(
        build(*map(F.col, names)).alias("__out__")
    )
    expr = df._jdf.queryExecution().analyzed().expressions().apply(0)
    tpl = _Template(_ARG_RE.sub(r"{\1}", expr.child().sql()))
    _TPL_CACHE[key] = tpl
    return tpl


# ---- the function table ---------------------------------------------------


def _sql(n_args: int, template: str):
    """Lowering by a SQL template with ``n_args`` slots."""
    tpl = _Template(template)

    def lower(name: str, args: list[str], store: list[str]) -> str:
        _arity(name, args, n_args)
        return tpl.fill(args, store)

    return lower


def _helper(build, *arg_types: str):
    """Lowering by the dialect helper ``build`` over ``arg_types``."""

    def lower(name: str, args: list[str], store: list[str]) -> str:
        _arity(name, args, len(arg_types))
        return _render(name, build, arg_types).fill(args, store)

    return lower


def _format_helper(build, arg_type: str):
    """DATE_FORMAT / TIME_FORMAT / STR_TO_DATE: the %-format is a
    literal parameter of the helper."""

    def lower(name: str, args: list[str], store: list[str]) -> str:
        _arity(name, args, 2)
        fmt = _literal_text(args[1], store)
        if fmt is None:
            raise ValueError(
                f"{name} needs a literal format string to translate "
                "(dynamic format columns: use the DataFrame dialect layer)"
            )
        tpl = _render(name, lambda c: build(c, fmt), (arg_type,), (fmt,))
        return tpl.fill(args[:1], store)

    return lower


def _week_helper(build):
    """WEEK / YEARWEEK (date[, mode]): the mode is a literal 0-7."""

    def lower(name: str, args: list[str], store: list[str]) -> str:
        if len(args) not in (1, 2):
            raise ValueError(f"{name} expects 1 or 2 arguments")
        if len(args) == 2 and not re.fullmatch(r"[0-7]", args[1]):
            raise ValueError(f"{name} mode must be a literal 0-7")
        mode = int(args[1]) if len(args) == 2 else 0
        tpl = _render(name, lambda c: build(c, mode), ("date",), (mode,))
        return tpl.fill(args[:1], store)

    return lower


def _refuse(message: str):
    def lower(name: str, args: list[str], store: list[str]) -> str:
        raise ValueError(message)

    return lower


def _field(name: str, args: list[str], store: list[str]) -> str:
    """FIELD(x, a, b, ...): 1-based index of x in the list, 0 when
    absent or x NULL (func_field semantics match array_position's
    not-found = 0 with a NULL-x coalesce)."""
    if len(args) < 2:
        raise ValueError("FIELD expects at least 2 arguments")
    return (
        f"coalesce(array_position(array({', '.join(args[1:])}), "
        f"{args[0]}), 0)"
    )


def _make_set(name: str, args: list[str], store: list[str]) -> str:
    """MAKE_SET(bits, s1, ..., sn): comma-join of the strings whose bit
    is set; NULL items are skipped (concat_ws semantics = MariaDB's)."""
    if len(args) < 2:
        raise ValueError("MAKE_SET expects at least 2 arguments")
    items = ", ".join(
        f"(CASE WHEN (shiftright(cast({args[0]} as bigint), {k})"
        f" & 1) = 1 THEN {a} END)"
        for k, a in enumerate(args[1:])
    )
    return f"concat_ws(',', {items})"


def _char(name: str, args: list[str], store: list[str]) -> str | None:
    """CHAR(c1, c2, ...): per-code-point chars concatenated, NULL args
    skipped (MariaDB CHAR); single-arg CHAR is Spark-native."""
    if len(args) <= 1:
        return None
    return f"concat_ws('', {', '.join(f'char({a})' for a in args)})"


#: GET_FORMAT lookup (func_get_format.cpp; the MySQL/MariaDB table).
_GET_FORMATS = {
    ("DATE", "USA"): "%m.%d.%Y",
    ("DATE", "JIS"): "%Y-%m-%d",
    ("DATE", "ISO"): "%Y-%m-%d",
    ("DATE", "EUR"): "%d.%m.%Y",
    ("DATE", "INTERNAL"): "%Y%m%d",
    ("DATETIME", "USA"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "JIS"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "ISO"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "EUR"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "INTERNAL"): "%Y%m%d%H%i%s",
    ("TIME", "USA"): "%h:%i:%s %p",
    ("TIME", "JIS"): "%H:%i:%s",
    ("TIME", "ISO"): "%H:%i:%s",
    ("TIME", "EUR"): "%H.%i.%s",
    ("TIME", "INTERNAL"): "%H%i%s",
}


def _get_format(name: str, args: list[str], store: list[str]) -> str:
    """GET_FORMAT(DATE|TIME|DATETIME|TIMESTAMP, <region>) → a CASE
    over the region string with the documented literal formats
    (NULL for unknown regions, matching MariaDB)."""
    _arity(name, args, 2)
    kw = args[0].upper()
    kw = "DATETIME" if kw == "TIMESTAMP" else kw
    whens = " ".join(
        f"WHEN '{r}' THEN '{f}'" for (k, r), f in _GET_FORMATS.items()
        if k == kw
    )
    if not whens:
        raise ValueError(
            f"GET_FORMAT first argument must be DATE/TIME/"
            f"DATETIME/TIMESTAMP, got {args[0]!r}"
        )
    return f"(CASE UPPER({args[1]}) {whens} ELSE NULL END)"


#: MariaDB functions Spark SQL lacks or spells differently, one
#: lowering each. TO_DAYS epoch per func_to_days.cpp — Gregorian dates
#: only.
_FUNCTIONS = {
    # JSON_VALUE (func_json_value.cpp; MCOL-5607): scalar at path,
    # NULL when the path lands on an object/array. JSON_QUERY is the
    # mirror (fragment at path, NULL for scalars). get_json_object
    # extracts + unquotes; object/array discrimination re-parses the
    # fragment (json_object_keys / json_array_length are NULL for
    # anything that isn't a valid object/array), so a scalar that
    # merely LOOKS brace-y ('{x}') classifies correctly — the only
    # misclassification left is a scalar string whose unquoted text IS
    # valid JSON ('"[1]"'), which MariaDB itself treats as scalar.
    "JSON_VALUE": _sql(
        2,
        "(CASE WHEN json_object_keys(get_json_object({0}, {1}))"
        " IS NOT NULL"
        " OR json_array_length(get_json_object({0}, {1})) IS NOT NULL"
        " THEN NULL ELSE get_json_object({0}, {1}) END)",
    ),
    "JSON_QUERY": _sql(
        2,
        "(CASE WHEN json_object_keys(get_json_object({0}, {1}))"
        " IS NOT NULL"
        " OR json_array_length(get_json_object({0}, {1})) IS NOT NULL"
        " THEN get_json_object({0}, {1}) ELSE NULL END)",
    ),
    "TO_DAYS": _sql(1, "(datediff({0}, DATE'1970-01-01') + 719528)"),
    # TO_SECONDS (mcs250): seconds since year 0 = unix epoch seconds +
    # 719528 days * 86400 (= 62167219200). The argument is bound exactly
    # ONCE: the session runs UTC (session.py), so unix_timestamp round-
    # trips the wall-clock value and an expensive or non-deterministic
    # argument (TO_SECONDS(NOW()) near midnight) can't mix date and time
    # from different evaluations.
    "TO_SECONDS": _sql(
        1,
        "(cast(floor(unix_timestamp(cast({0} as timestamp))) as bigint)"
        " + 62167219200)",
    ),
    "FROM_DAYS": _sql(
        1, "date_add(DATE'1970-01-01', cast(({0}) - 719528 as int))"
    ),
    "FORMAT": _sql(2, "format_number({0}, {1})"),
    # func_strcmp.cpp: -1/0/1 three-way compare, NULL-propagating
    "STRCMP": _sql(
        2,
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL THEN NULL"
        " WHEN ({0}) < ({1}) THEN -1 WHEN ({0}) = ({1}) THEN 0"
        " ELSE 1 END)",
    ),
    "SPACE": _sql(1, "repeat(' ', {0})"),
    "OCT": _sql(1, "conv(cast({0} as string), 10, 8)"),
    # MariaDB string functions coerce numeric args to their string
    # form (Item_str_func; mcs7092 md5(d_datekey)); Spark's md5/sha
    # require binary and reverse requires string/array — the cast is a
    # no-op for string args and supplies the MariaDB read for numbers
    "MD5": _sql(1, "md5(cast({0} as string))"),
    "SHA1": _sql(1, "sha1(cast({0} as string))"),
    "SHA": _sql(1, "sha1(cast({0} as string))"),
    "SHA2": _sql(2, "sha2(cast({0} as string), cast({1} as int))"),
    "REVERSE": _sql(1, "reverse(cast({0} as string))"),
    # TRUNCATE(X, D) toward zero in DECIMAL arithmetic (func_truncate
    # .cpp; double×10^d would turn 0.29*100 into 28.999…996), incl.
    # negative D, which truncates left of the point: TRUNCATE(123.45,
    # -1) = 120. The D>=0 branch is X − X % 10^(−D): SQL % follows the
    # dividend's sign so the remainder-strip truncates toward zero for
    # BOTH signs, the mod never widens past the operand scale, and —
    # unlike a floor(X·10^D) form — a large X (TRUNCATE of a REGR_SXX
    # in the e12 range, mcs6203) can't overflow the 38-digit product.
    "TRUNCATE": _sql(
        2,
        "cast((CASE WHEN ({1}) >= 0 THEN"
        " cast({0} as decimal(38,15))"
        "  - (cast({0} as decimal(38,15))"
        "     % cast(power(10, -least(({1}), 15)) as decimal(38,15)))"
        " ELSE"
        " cast((CASE WHEN ({0}) >= 0"
        "  THEN floor(cast({0} as decimal(38,15))"
        "    / cast(power(10, -({1})) as decimal(20,0)))"
        "  ELSE ceil(cast({0} as decimal(38,15))"
        "    / cast(power(10, -({1})) as decimal(20,0))) END)"
        "  as decimal(38,15))"
        "  * cast(power(10, -({1})) as decimal(20,0))"
        " END) as double)",
    ),
    # INSERT(str, pos, len, newstr) (func_insert.cpp edge semantics:
    # pos out of 1..len(str) → unchanged; len < 0 or past end →
    # replace the rest; NULL in → NULL out via concat/substr nulls)
    "INSERT": _sql(
        4,
        "(CASE WHEN ({0}) IS NULL OR ({1}) IS NULL OR ({2}) IS NULL"
        "   OR ({3}) IS NULL THEN NULL"
        " WHEN ({1}) < 1 OR ({1}) > char_length({0}) THEN ({0})"
        " WHEN ({2}) < 0 OR ({1}) + ({2}) > char_length({0})"
        "   THEN concat(substr({0}, 1, ({1}) - 1), {3})"
        " ELSE concat(substr({0}, 1, ({1}) - 1), {3},"
        "   substr({0}, ({1}) + ({2}))) END)",
    ),
    "MID": _sql(3, "substring({0}, {1}, {2})"),
    # CONVERT_TZ with named IANA zones OR fixed offsets (func_convert_tz
    # .cpp — the reference inherits mysqld's tz tables; Spark's zone
    # parser accepts both 'America/New_York' and '+05:30'). The dt
    # argument is wall-clock in from_tz: to_utc_timestamp reinterprets
    # it as UTC, from_utc_timestamp renders it in to_tz — DST-correct on
    # both legs (verified at the 2021-03-14 US spring-forward boundary,
    # tests/test_dialect.py).
    "CONVERT_TZ": _sql(
        3, "from_utc_timestamp(to_utc_timestamp({0}, {1}), {2})"
    ),
    # ORD == ASCII for single-byte charsets (func_ascii; the multibyte
    # leading-byte arithmetic form is out of scope — documents ASCII)
    "ORD": _sql(1, "ascii({0})"),
    "FIELD": _field,
    "MAKE_SET": _make_set,
    "CHAR": _char,
    "GET_FORMAT": _get_format,
    # the dialect helpers: TIME is rendered as its 'HH:MM:SS' string
    # (sign-aware, hours past 24), periods are YYYYMM or YYMM
    "SEC_TO_TIME": _helper(dialect.sec_to_time, "bigint"),
    "TIME_TO_SEC": _helper(dialect.time_to_sec, "string"),
    "ADDTIME": _helper(dialect.add_time, "timestamp", "string"),
    "SUBTIME": _helper(dialect.subtime, "timestamp", "string"),
    "TIMEDIFF": _helper(dialect.timediff, "timestamp", "timestamp"),
    "MAKEDATE": _helper(dialect.makedate, "bigint", "bigint"),
    "MAKETIME": _helper(dialect.maketime, "bigint", "bigint", "bigint"),
    "PERIOD_ADD": _helper(dialect.period_add, "bigint", "bigint"),
    "PERIOD_DIFF": _helper(dialect.period_diff, "bigint", "bigint"),
    "INET_ATON": _helper(dialect.inet_aton, "string"),
    "INET_NTOA": _helper(dialect.inet_ntoa, "bigint"),
    "DATE_FORMAT": _format_helper(dialect.date_format_mariadb, "timestamp"),
    # TIME_FORMAT is DATE_FORMAT restricted to time specifiers
    # (func_time_format via funcexp.cpp dispatch)
    "TIME_FORMAT": _format_helper(dialect.date_format_mariadb, "timestamp"),
    "STR_TO_DATE": _format_helper(dialect.str_to_date, "string"),
    "WEEK": _week_helper(dialect.week_mode),
    "YEARWEEK": _week_helper(dialect.yearweek_mode),
    # JSON formatters (func_json_format.cpp + json_normalize)
    "JSON_COMPACT": _helper(json_ext.json_compact, "string"),
    "JSON_LOOSE": _helper(json_ext.json_loose, "string"),
    "JSON_DETAILED": _refuse(
        "JSON_DETAILED (multi-line pretty print) has no Spark "
        "translation; use JSON_LOOSE for readable one-line form"
    ),
    # json_ext.json_normalize exists as a Column function, but its
    # higher-order lambdas don't render to re-parseable SQL text —
    # honest refusal instead of a mistranslation
    "JSON_NORMALIZE": _refuse(
        "JSON_NORMALIZE is available on the DataFrame surface "
        "(functions.json_ext.json_normalize); its lambda-based "
        "implementation has no SQL-text rendering"
    ),
}

_rewrite_functions = _call_pass(_FUNCTIONS)


def _group_concat(name: str, args: list[str], store: list[str]) -> str:
    inner = ", ".join(args)
    distinct = ""
    dm = re.match(r"DISTINCT\b", inner, re.IGNORECASE)
    if dm:
        distinct = "DISTINCT "
        inner = inner[dm.end() :].strip()

    limit = None
    lm = _top_level_search(r"\bLIMIT\s+(\d+)\s*$", inner)
    if lm:
        limit = int(lm.group(1))
        inner = inner[: lm.start()].strip()
    elif _top_level_search(r"\bLIMIT\b", inner):
        raise ValueError(
            "GROUP_CONCAT LIMIT must be a trailing integer literal"
        )

    sep = "','"
    sm = _top_level_search(r"\bSEPARATOR\b", inner)
    if sm:
        sep = inner[sm.end() :].strip()
        inner = inner[: sm.start()].strip()

    order = ""
    order_key, order_asc = None, True
    om = _top_level_search(r"\bORDER\s+BY\b", inner)
    if om:
        spec = inner[om.end() :].strip()
        order = f" WITHIN GROUP (ORDER BY {spec})"
        inner = inner[: om.start()].strip()
        am = re.fullmatch(
            r"(.+?)\s+(ASC|DESC)", spec, re.IGNORECASE | re.DOTALL
        )
        order_key = am.group(1) if am else spec
        order_asc = not (am and am.group(2).upper() == "DESC")

    if _top_level_search(r",", inner):
        # GROUP_CONCAT(e1, e2, ...) concatenates the expressions
        # per row (MariaDB expr-list form) — left as-is, e2 would
        # silently become listagg's separator
        inner = (
            "concat("
            + ", ".join(p.strip() for p in _split_top_level_commas(inner))
            + ")"
        )
    if limit is None and not (distinct and order_key is not None):
        return f"listagg({distinct}{inner}, {sep}){order}"
    # GROUP_CONCAT(... LIMIT n) — MariaDB 10.6 extension
    # (dbcon/joblist/groupconcat.cpp's limit): first n of the
    # ordered (deduped) list — and DISTINCT with ORDER BY,
    # which listagg rejects for non-string input (it casts its
    # input to string, which then no longer matches the order
    # key: MISMATCH_WITH_DISTINCT_INPUT). Both are spelled as
    # the collect → sort → [distinct] → [slice] pipeline
    # dialect.group_concat builds.
    if order_key is None:
        coll = (
            f"collect_set({inner})" if distinct
            else f"collect_list({inner})"
        )
        vals = f"sort_array({coll})"
    else:
        if _top_level_search(r",", order_key):
            raise ValueError(
                "GROUP_CONCAT with LIMIT or DISTINCT supports"
                " one ORDER BY key"
            )
        asc = "true" if order_asc else "false"
        vals = (
            f"transform(sort_array(collect_list(struct("
            f"({order_key}) AS k, ({inner}) AS v)), {asc}),"
            " s -> s.v)"
        )
        if distinct:
            vals = f"array_distinct({vals})"
    if limit is not None:
        return f"array_join(slice({vals}, 1, {limit}), {sep})"
    # fold the non-NULL values from a NULL start, so a group of only
    # NULLs stays NULL, as in listagg
    return (
        f"aggregate(array_compact({vals}),"
        " CAST(NULL AS STRING),"
        f" (acc, s) -> concat_ws({sep}, acc,"
        " CAST(s AS STRING)))"
    )


_rewrite_group_concat = _call_pass({"GROUP_CONCAT": _group_concat})


def _null_fn(name: str, args: list[str], store: list[str]) -> str:
    """GREATEST/LEAST return NULL when any argument is NULL
    (func_case.cpp least/greatest family), where Spark's skip NULLs;
    SYSDATE([p]) is the statement's timestamp at precision ``p``
    (default 0) — Spark fixes ``current_timestamp`` per query, which
    rules out true per-call wall-clock time."""
    if name == "SYSDATE":
        digits = 6 - int(args[0] if args else 0)
        if digits <= 0:
            return "current_timestamp()"
        return (
            "timestamp_micros(unix_micros(current_timestamp()) "
            f"div {10 ** digits} * {10 ** digits})"
        )
    nulls = " OR ".join(f"({a}) IS NULL" for a in args)
    return (
        f"(CASE WHEN {nulls} THEN NULL "
        f"ELSE {name.lower()}({', '.join(args)}) END)"
    )


_rewrite_null_fns = _call_pass(
    dict.fromkeys(("GREATEST", "LEAST", "SYSDATE"), _null_fn)
)


def _interval_arith(name: str, args: list[str], store: list[str]):
    """DATE_ADD/DATE_SUB/ADDDATE/SUBDATE with an INTERVAL second argument
    → plain interval arithmetic (Spark's date_add only takes day counts;
    the integer-days form parses natively and is left as written)."""
    if len(args) == 2 and re.match(r"INTERVAL\b", args[1], re.IGNORECASE):
        op = "+" if name in ("DATE_ADD", "ADDDATE") else "-"
        return f"({args[0]} {op} {args[1]})"
    return None


_rewrite_interval_arith = _call_pass(
    dict.fromkeys(("DATE_ADD", "ADDDATE", "DATE_SUB", "SUBDATE"),
                  _interval_arith)
)


def _rewrite_with_rollup(masked: str, store: list[str]) -> str:
    # (store unused — every rewrite keeps the uniform (masked, store)
    # pipeline signature translate_statement chains)
    """MariaDB ``GROUP BY a, b WITH ROLLUP`` → ``GROUP BY ROLLUP(a, b)``
    (the server-side WITH ROLLUP the reference never pushes down —
    SURVEY §2.4; Spark/DuckDB both speak the ANSI ROLLUP spelling).
    Depth-tracked scan so a WITH ROLLUP inside a subquery rewrites with
    ITS OWN group-by, never an outer one."""
    pat = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)
    wr = re.compile(r"WITH\s+ROLLUP\b", re.IGNORECASE)
    term = re.compile(
        r"HAVING\b|ORDER\s+BY\b|LIMIT\b|WINDOW\b|UNION\b|EXCEPT\b|"
        r"INTERSECT\b",
        re.IGNORECASE,
    )
    out, i = [], 0
    while True:
        m = pat.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        j, depth, hit = m.end(), 0, None
        while j < len(masked):
            ch = masked[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break  # end of this query block
                depth -= 1
            elif depth == 0:
                wm = wr.match(masked, j)
                if wm:
                    hit = (j, wm.end())
                    break
                if term.match(masked, j):
                    break
            j += 1
        out.append(masked[i : m.end()])
        if hit:
            cols = masked[m.end() : hit[0]].strip().rstrip(",")
            out.append(f" ROLLUP({cols})")
            i = hit[1]
        else:
            i = m.end()
    return "".join(out)


#: MariaDB CAST/CONVERT target types → Spark types (func_cast.cpp's
#: cast_as_signed/unsigned/char/... targets). Numeric targets (SIGNED/
#: UNSIGNED/DOUBLE/FLOAT/DECIMAL) are NOT in this table — they carry
#: MariaDB's loose string→number semantics and are lowered by the
#: dedicated `_loose_cast_pass` below (UNSIGNED still widens to
#: DECIMAL(20,0) there to carry full u64 range — SURVEY §1.2).
_CAST_TARGETS: tuple[tuple[str, str], ...] = (
    ("DATETIME", "TIMESTAMP"),
    # bare CHAR (no length) is not a Spark type; CHAR(n) passes through
    ("CHAR", "STRING"),
)

#: MariaDB numeric cast targets (sql_yacc.yy cast_type) → loose-cast
#: kind. Matched at the END of a CAST's argument list, top-level only.
_LOOSE_TARGET_RE = re.compile(
    r"\bAS\s+(?:"
    r"(?P<signed>SIGNED(?:\s+INT(?:EGER)?)?)|"
    r"(?P<unsigned>UNSIGNED(?:\s+INT(?:EGER)?)?)|"
    r"(?P<double>DOUBLE(?:\s+PRECISION)?|REAL)|"
    r"(?P<float>FLOAT)|"
    r"(?P<decimal>DEC(?:IMAL)?(?:\s*\(\s*(?P<p>\d+)\s*"
    r"(?:,\s*(?P<s>\d+)\s*)?\))?)"
    r")\s*$",
    re.IGNORECASE,
)

#: leading-numeric-prefix regexes (my_strtoll10 / my_strtod stop at the
#: first non-numeric char). Spelled without backslashes so the literal
#: survives Spark's escaped-string parsing verbatim.
_INT_PREFIX_RX = "'^ *[+-]?[0-9]+'"
_NUM_PREFIX_RX = (
    "'^ *[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?'"
)

_I64_MIN = "-9223372036854775808"
_I64_MAX = "9223372036854775807"
_U64_MAX = "18446744073709551615"
_U64_MOD = "18446744073709551616"


def _loose_numeric_cast_emit(
    expr: str, kind: str, p: int, s: int, store: list[str],
    numeric_operand: bool = False,
    direct: bool = False,
) -> str:
    """Render MariaDB's loose number-cast semantics (func_cast.cpp;
    server my_strtoll10/my_strtod + Item_func_signed/unsigned::val_int):

    - string operands parse their leading numeric prefix — ``'123abc'``
      → 123, ``'12.9' AS SIGNED`` → 12 (the integer parse stops at
      '.'), non-numeric → 0 with a warning;
    - numeric operands ROUND half-away-from-zero to integer targets
      (``CAST(12.9 AS SIGNED)`` → 13) — Spark's decimal(38,0) cast
      uses the same HALF_UP rule;
    - out-of-range values CLAMP to the target bounds instead of
      raising ANSI overflow;
    - UNSIGNED wraps negatives mod 2^64;
    - DATE/DATETIME operands become their MariaDB datetime NUMBER
      (Item_temporal_func::val_int): yyyyMMdd / yyyyMMddHHmmss;
    - NULL stays NULL.

    The fast path is a bare ``try_cast`` (JVM-codegen, no regex); the
    prefix regexp / clamp arms only evaluate where it fails. Every
    parse routes through CAST(op AS STRING) so each CASE arm stays
    analysis-valid for ANY operand type (numeric string renders
    round-trip, including E-notation into decimal casts).

    The emission is MASKED text: its quoted literals are stashed as
    placeholders so later pipeline passes (the function table, CORR)
    still rewrite any MariaDB spellings INSIDE the operand
    copies, while no masked-text scan can misread the literals.
    """

    def lit(text: str) -> str:
        ph = _PH.format(len(store))
        store.append(text)
        return ph

    # FLOAT targets never use the direct parse: nearest-float of the
    # operand's shortest string render can differ from the IEEE
    # double→float narrowing on boundary-straddling values.
    direct = direct and kind != "float"
    e = f"({expr})"
    if kind == "signed":
        spark_t = "BIGINT"
    elif kind == "unsigned":
        spark_t = "DECIMAL(20,0)"
    elif kind in ("double", "float"):
        spark_t = "DOUBLE" if kind == "double" else "FLOAT"
    else:
        spark_t = f"DECIMAL({p},{s})"

    def sb(x: str) -> str:
        """String-operand branch over operand text ``x``: leading
        numeric prefix, 0 on no-parse, clamp/wrap on range. Every
        direct parse goes through CAST(x AS STRING) so the arm is
        analysis-valid for ANY operand type (try_cast(date AS BIGINT)
        is a static error even in a never-taken CASE arm); for actual
        strings the render is a no-op."""
        xs = f"CAST({x} AS STRING)"
        if kind in ("signed", "unsigned"):
            # a numeric prefix LONGER than 38 digits overflows even the
            # DECIMAL(38,0) reparse — clamp sign-aware (my_strtoll10
            # saturates at the i64/u64 bound) instead of coalescing to
            # 0; the DOUBLE reparse of the prefix is always finite-or-
            # Infinity, so the sign test is safe at any length
            pfx = (
                f"regexp_extract({xs}, {lit(_INT_PREFIX_RX)}, 0)"
            )
            hi = _I64_MAX if kind == "signed" else _U64_MAX
            over = (
                f"CASE WHEN try_cast({pfx} AS DOUBLE) IS NULL "
                f"THEN CAST(0 AS DECIMAL(38,0)) "
                f"WHEN try_cast({pfx} AS DOUBLE) < 0 "
                f"THEN CAST({_I64_MIN} AS DECIMAL(38,0)) "
                f"ELSE CAST({hi} AS DECIMAL(38,0)) END"
            )
            base = (
                f"coalesce(try_cast({xs} AS BIGINT), "
                f"try_cast({pfx} AS DECIMAL(38,0)), {over})"
            )
            if kind == "signed":
                return (
                    f"try_cast(least(greatest({base}, "
                    f"{_I64_MIN}), {_I64_MAX}) AS BIGINT)"
                )
            # clamp to the parseable [i64-min, u64-max] span first
            # (my_strtoll10 saturates there), then pmod wraps the
            # negatives mod 2^64 in ONE operand reference
            return (
                f"try_cast(pmod(least(greatest({base}, {_I64_MIN}), "
                f"{_U64_MAX}), {_U64_MOD}) AS DECIMAL(20,0))"
            )
        if kind in ("double", "float"):
            return (
                f"coalesce(try_cast({xs} AS {spark_t}), "
                f"try_cast(regexp_extract({xs}, "
                f"{lit(_NUM_PREFIX_RX)}, 0) AS {spark_t}), "
                f"CAST(0 AS {spark_t}))"
            )
        max_lit = ("9" * (p - s) or "0") + (("." + "9" * s) if s else "")
        pfx = f"regexp_extract({xs}, {lit(_NUM_PREFIX_RX)}, 0)"
        return (
            f"coalesce(try_cast({xs} AS {spark_t}), "
            f"try_cast({pfx} AS {spark_t}), "
            f"CASE WHEN try_cast({pfx} AS DOUBLE) IS NULL "
            f"THEN CAST(0 AS {spark_t}) "
            f"WHEN try_cast({pfx} AS DOUBLE) < 0 "
            f"THEN CAST(-{max_lit} AS {spark_t}) "
            f"ELSE CAST({max_lit} AS {spark_t}) END)"
        )

    # numeric-operand branch: round half-away (decimal(38,0) HALF_UP),
    # clamp out-of-range (sign-aware when even DECIMAL(38,0) can't
    # hold |x| >= 1e38 doubles: MariaDB clamps, ANSI would throw)
    def nb(x: str) -> str:
        """Numeric-operand branch over operand text ``x``: round
        half-away (decimal(38,0) HALF_UP), clamp out-of-range
        (sign-aware when even DECIMAL(38,0) can't hold |x| >= 1e38
        doubles: MariaDB clamps, ANSI would throw).

        ``direct`` (r12 fast path): when the operand is STATICALLY
        known to be int/bigint/double/decimal-typed (catalog schema or
        aggregate shape — never float, whose widening drifts from its
        string render), parse the value itself instead of routing it
        through CAST(x AS STRING). BigDecimal.valueOf(double) IS
        ``new BigDecimal(Double.toString(d))`` (JDK), so the direct
        double→decimal cast rounds identically to the string
        round-trip the slow path uses — bit-equality pinned by
        tests/test_sqltrans_fast_cast.py over an adversarial value
        battery. This removes a per-row string render+parse from
        every hot loose cast (measured ~0.3 s on the window bench's
        150k-row DECIMAL(18,2) projection)."""
        es = x if direct else f"CAST({x} AS STRING)"
        sign_clamp_i64 = (
            f"CASE WHEN try_cast({es} AS DOUBLE) IS NULL "
            f"THEN CAST(0 AS DECIMAL(38,0)) "
            f"WHEN try_cast({es} AS DOUBLE) < 0 "
            f"THEN CAST({_I64_MIN} AS DECIMAL(38,0)) "
            f"ELSE CAST({_I64_MAX} AS DECIMAL(38,0)) END"
        )
        if kind == "signed":
            return (
                f"try_cast(least(greatest(coalesce("
                f"try_cast({es} AS DECIMAL(38,0)), {sign_clamp_i64}), "
                f"{_I64_MIN}), {_I64_MAX}) AS BIGINT)"
            )
        if kind == "unsigned":
            n0 = (f"coalesce(try_cast({es} AS DECIMAL(38,0)), "
                  f"{sign_clamp_i64})")
            # clamp to [i64-min, u64-max] then wrap negatives mod 2^64
            # (Item_func_unsigned::val_int casts through longlong, so a
            # double below i64-min lands on i64-min and wraps to 2^63 —
            # the old CASE-then-greatest form read 0 there)
            return (
                f"try_cast(pmod(least(greatest({n0}, {_I64_MIN}), "
                f"{_U64_MAX}), {_U64_MOD}) AS DECIMAL(20,0))"
            )
        if kind in ("double", "float"):
            return f"try_cast({es} AS {spark_t})"
        max_lit = ("9" * (p - s) or "0") + (("." + "9" * s) if s else "")
        clamp = (
            f"CASE WHEN try_cast({es} AS DOUBLE) IS NULL "
            f"THEN CAST(0 AS {spark_t}) "
            f"WHEN try_cast({es} AS DOUBLE) < 0 "
            f"THEN CAST(-{max_lit} AS {spark_t}) "
            f"ELSE CAST({max_lit} AS {spark_t}) END"
        )
        return f"coalesce(try_cast({es} AS {spark_t}), {clamp})"

    def full_case(x: str) -> str:
        """typeof-dispatch over operand text ``x``.

        Temporal operands: MariaDB numbers datetimes as
        yyyyMMdd[HHmmss] (Item_temporal_func::val_int), re-read
        through the string branch on digits-only renderings built
        from string ops so the arm stays analysis-valid for EVERY
        operand type (date_format / try_cast-to-timestamp are static
        type errors even in a never-taken CASE arm); the arm only
        RUNS on temporals: '2000-01-01 00:00:01[.ffffff]' →
        '20000101000001' (seconds precision, like the server's
        14-digit datetime number)."""
        digits = (
            f"translate(CAST({x} AS STRING), "
            f"{lit(chr(39) + '- :.' + chr(39))}, {lit(chr(39) * 2)})"
        )
        d_num = f"(substring({digits}, 1, 8))"
        ts_num = f"(substring({digits}, 1, 14))"
        return (
            f"(CASE WHEN {x} IS NULL THEN try_cast(NULL AS {spark_t}) "
            f"WHEN typeof({x}) LIKE "
            f"{lit(chr(39) + 'string%' + chr(39))} "
            f"THEN {sb(x)} "
            f"WHEN typeof({x}) = {lit(chr(39) + 'date' + chr(39))} "
            f"THEN {sb(d_num)} "
            f"WHEN typeof({x}) LIKE "
            f"{lit(chr(39) + 'timestamp%' + chr(39))} THEN {sb(ts_num)} "
            f"WHEN typeof({x}) = {lit(chr(39) + 'boolean' + chr(39))} "
            f"THEN CASE WHEN CAST({x} AS STRING) = "
            f"{lit(chr(39) + 'true' + chr(39))} "
            f"THEN CAST(1 AS {spark_t}) ELSE CAST(0 AS {spark_t}) END "
            f"ELSE {nb(x)} END)"
        )

    # static-type short-circuits: a literal operand's typeof() is known
    # at rewrite time, so emit ONLY its branch — the full typeof CASE
    # re-states the operand ~10x per emission, which both re-evaluates
    # non-deterministic operands per arm and blows up exponentially on
    # nested loose casts (deep MTR nestings hit the codegen limit)
    stripped = expr.strip()
    # a trivial operand (literal / bare column reference) is cheap and
    # deterministic — emit branches over it directly (codegen dedupes);
    # anything else is BOUND EXACTLY ONCE via a one-element higher-
    # order transform: the lambda variable carries the single evaluated
    # value into every branch, so non-deterministic operands cannot
    # draw differently per arm and nested loose casts stay linear in
    # text instead of exponential (VERDICT r9 #2)
    trivial = bool(
        _PH_RE.fullmatch(stripped)
        or re.fullmatch(
            r"[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?",
            stripped,
        )
        or re.fullmatch(
            r"(?:[A-Za-z_]\w*\s*\.\s*)?[A-Za-z_]\w*|`[^`]+`", stripped
        )
    )

    def bind_once(body) -> str:
        if trivial:
            return body(e)
        var = f"__lc{len(store)}"
        return (
            f"element_at(transform(array({e}), {var} -> "
            f"{body(var)}), 1)"
        )

    phm = _PH_RE.fullmatch(stripped)
    if phm and store[int(phm.group(1))].startswith("'"):
        return sb(e)
    if stripped.upper() == "NULL":
        return f"try_cast(NULL AS {spark_t})"
    if direct:
        # Statically numeric operand (never float): parse the value
        # directly. For shapes that today route through full_case
        # (bare numeric columns, aggregates) NULL is guarded
        # explicitly — nb()'s clamp fallback reads a NULL parse as
        # "no numeric prefix" → 0, while full_case had a dedicated
        # NULL arm. Nested loose casts (numeric_operand) keep nb's
        # existing un-guarded semantics exactly, just without the
        # string round-trip.
        if kind == "double" or numeric_operand:
            return bind_once(nb)  # double: try_cast maps NULL → NULL
        return bind_once(
            lambda v: (
                f"(CASE WHEN {v} IS NULL "
                f"THEN try_cast(NULL AS {spark_t}) "
                f"ELSE {nb(v)} END)"
            )
        )
    if numeric_operand or re.fullmatch(
        r"[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?",
        stripped,
    ):
        # a numeric literal, or an operand the caller knows is numeric
        # (e.g. a nested loose cast): NULL passes through try_cast
        return bind_once(nb)
    return bind_once(full_case)


def _operand_is_loose_cast(text: str) -> bool:
    """True when ``text`` is exactly one CAST(... AS <loose numeric
    target>) — its emission's result type is statically numeric, so
    an ENCLOSING loose cast can skip the typeof dispatch (nested MTR
    loose casts otherwise blow up ~10x in text per nesting level)."""
    t = text.strip()
    m = re.match(r"CAST\s*\(", t, re.IGNORECASE)
    if not m:
        return False
    open_at = t.index("(", 0)
    end = _find_balanced(t, open_at)
    if t[end:].strip():
        return False
    inner = t[open_at + 1 : end - 1]
    return _top_level_search(_LOOSE_TARGET_RE.pattern, inner) is not None


#: identifier (optionally table-qualified / backticked) — the shapes a
#: bare catalog column reference can take inside an expression
_BARE_COL_RE = re.compile(
    r"(?:[A-Za-z_]\w*\s*\.\s*)?([A-Za-z_]\w*)|`([^`]+)`"
)

#: aggregates whose result type equals (or integrally widens) their
#: statically-numeric argument's type — safe carriers for the direct
#: loose-cast parse. AVG included since r13 for STATIC-NUMERIC args
#: only: avg(int/bigint) → double, avg(decimal(p,s)) → decimal(p+4,s+4),
#: avg(double) → double — all statically numeric, and float args can
#: never prove static (float columns are excluded from
#: Catalog.numeric_columns), so the float-AVG widening hazard that kept
#: AVG out in r12 cannot reach the fast path. Bit-equality pinned by
#: tests/test_sqltrans_fast_cast.py's AVG battery.
_NUM_AGG_RE = re.compile(
    r"(?:SUM|MIN|MAX|COUNT|AVG)\s*\(", re.IGNORECASE
)

#: numeric literal (int / fixed-point / E-notation), optionally signed
_NUM_LIT_RE = re.compile(
    r"[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?"
)


def _split_top_level_arith(text: str) -> list[str] | None:
    """Split ``text`` on top-level ``+ - *`` (the arithmetic operators
    whose Spark result type over int/bigint/double/decimal operands is
    again int/bigint/double/decimal — ``/`` and ``%`` were already
    rewritten to try_divide/try_mod by the null-safe-division pass).
    Returns None when no top-level operator exists. Parenthesized and
    placeholder-masked regions are opaque to the scan."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and ch in "+-*":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts if len(parts) > 1 else None


def _operand_static_numeric(
    text: str, numeric_columns: frozenset[str]
) -> bool:
    """True when ``text`` is STATICALLY known to evaluate to an
    int/bigint/double/decimal value (never float, never string/date),
    so the loose-cast emission may parse the value directly instead of
    routing it through CAST(x AS STRING) (r12 fast path):

    - a bare column reference whose lowercase name is in
      ``numeric_columns`` (the caller's catalog schema, float columns
      already excluded);
    - ``COUNT(...)`` / ``SUM/MIN/MAX/AVG(<static-numeric>)``,
      optionally with an ``OVER (...)`` window suffix — the exact
      shape the suffix-frame benchmark casts (``CAST(SUM(CAST(x AS
      DECIMAL(18,2))) OVER w AS DOUBLE)``);
    - a nested loose cast to SIGNED/UNSIGNED/DOUBLE/DECIMAL (its
      emission's Spark type is statically numeric; FLOAT is excluded
      because float→decimal widening drifts from the float's string
      render);
    - (r13, VERDICT r12 #6) arithmetic COMPOSITIONS of the above:
      a parenthesized static-numeric expression, ``+ - *`` chains
      whose every term is static-numeric or a numeric literal (the
      result type of those operators over int/bigint/double/decimal
      is again one of them), and ``try_divide/try_mod(<static>,
      <static>)`` — the forms the null-safe-division pass emits for
      the user's ``/`` and ``%``.
    """
    t = text.strip()
    # strip redundant wrapping parens: (expr) has expr's type
    while t.startswith("(") and t.endswith(")"):
        try:
            if _find_balanced(t, 0) != len(t):
                break
        except Exception:  # noqa: BLE001 — unbalanced, not our shape
            return False
        t = t[1:-1].strip()
    m = _BARE_COL_RE.fullmatch(t)
    if m:
        name = (m.group(1) or m.group(2) or "").lower()
        return name in numeric_columns
    parts = _split_top_level_arith(t)
    if parts is not None:
        terms = [p.strip() for p in parts]
        # empty terms are unary signs / operator runs (a + -b); at
        # least one real term must remain and every real term must be
        # static-numeric or a numeric literal
        real = [p for p in terms if p]
        return bool(real) and all(
            _NUM_LIT_RE.fullmatch(p)
            or _operand_static_numeric(p, numeric_columns)
            for p in real
        )
    dm = re.match(r"(?:TRY_DIVIDE|TRY_MOD)\s*\(", t, re.IGNORECASE)
    if dm:
        open_at = t.index("(", dm.start())
        try:
            end = _find_balanced(t, open_at)
        except Exception:  # noqa: BLE001
            return False
        if t[end:].strip():
            return False
        args = _split_top_level_commas(t[open_at + 1 : end - 1])
        return len(args) == 2 and all(
            _NUM_LIT_RE.fullmatch(a.strip())
            or _operand_static_numeric(a, numeric_columns)
            for a in args
        )
    am = _NUM_AGG_RE.match(t)
    if am:
        open_at = t.index("(", am.start())
        try:
            end = _find_balanced(t, open_at)
        except Exception:  # noqa: BLE001 — unbalanced, not our shape
            return False
        rest = t[end:].strip()
        if rest and not re.fullmatch(
            r"OVER\s*\(.*\)", rest, re.IGNORECASE | re.DOTALL
        ) and not re.fullmatch(r"OVER\s+\w+", rest, re.IGNORECASE):
            return False
        if t[: am.end() - 1].strip().upper() == "COUNT":
            return True  # COUNT is bigint whatever the argument
        arg = t[open_at + 1 : end - 1].strip()
        if re.fullmatch(
            r"[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)([eE][+-]?[0-9]+)?", arg
        ):
            return True
        return _operand_static_numeric(arg, numeric_columns)
    if _operand_is_loose_cast(t):
        tm = _top_level_search(
            _LOOSE_TARGET_RE.pattern,
            t[t.index("(") + 1 : _find_balanced(t, t.index("(")) - 1],
        )
        return tm is not None and not tm.group("float")
    return False


def _loose_cast_pass(
    masked: str, store: list[str],
    numeric_columns: frozenset[str] = frozenset(),
) -> str:
    """Lower ``CAST(x AS SIGNED/UNSIGNED/DOUBLE/FLOAT/DECIMAL)`` to the
    loose-semantics form. Innermost-first via recursion on the operand;
    emissions stay MASKED text (quoted literals stashed as
    placeholders) so later pipeline passes still translate MariaDB
    spellings inside the operand copies; this pass itself never
    rescans its own emission (single left-to-right sweep)."""
    cast_pat = re.compile(r"\bCAST\s*\(", re.IGNORECASE)
    out: list[str] = []
    i = 0
    while True:
        m = cast_pat.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        open_at = masked.index("(", m.start())
        end = _find_balanced(masked, open_at)
        inner = masked[open_at + 1 : end - 1]
        tm = _top_level_search(_LOOSE_TARGET_RE.pattern, inner)
        out.append(masked[i : m.start()])
        if tm:
            raw_op = inner[: tm.start()].strip()
            expr = _loose_cast_pass(raw_op, store, numeric_columns)
            if tm.group("signed"):
                kind, p, s = "signed", 0, 0
            elif tm.group("unsigned"):
                kind, p, s = "unsigned", 0, 0
            elif tm.group("double"):
                kind, p, s = "double", 0, 0
            elif tm.group("float"):
                kind, p, s = "float", 0, 0
            else:
                # MariaDB DECIMAL defaults: (10,0); (p) means (p,0)
                kind = "decimal"
                p = int(tm.group("p") or 10)
                s = int(tm.group("s") or 0)
            out.append(
                _loose_numeric_cast_emit(
                    expr, kind, p, s, store,
                    numeric_operand=_operand_is_loose_cast(raw_op),
                    direct=_operand_static_numeric(
                        raw_op, numeric_columns
                    ),
                )
            )
            i = end
        else:
            # not a loose-numeric cast — keep the head, scan inside
            out.append(masked[m.start() : open_at + 1])
            i = open_at + 1
    return "".join(out)


_ZERO_DATE_CAST_RE = re.compile(
    r"\bCAST\s*\(\s*(\x00\d+\x00)\s+AS\s+(DATE|TIMESTAMP)\s*\)",
    re.IGNORECASE,
)
_ZERO_DATE_RE = re.compile(r"0000-00-00(?: 00:00:00(?:\.0*)?)?")


def _cast_char_n(name: str, args: list[str], store: list[str]):
    """CAST(expr AS CHAR(n)) → an explicit truncation that wraps the
    whole expr (MariaDB truncates where Spark's CHAR(n) pads)."""
    inner = ", ".join(args)
    am = re.search(
        r"\bAS\s+CHAR\s*\(\s*(\d+)\s*\)\s*$", inner, re.IGNORECASE
    )
    if not am:
        return None
    expr = inner[: am.start()].strip()
    return f"substring(CAST({expr} AS STRING), 1, {am.group(1)})"


_rewrite_cast_char_n = _call_pass({"CAST": _cast_char_n})


def _convert(name: str, args: list[str], store: list[str]) -> str:
    """MariaDB ``CONVERT(expr, type)`` → ``CAST(expr AS type)``, and
    ``CONVERT(expr USING charset)``: every Spark string is UTF-8, so a
    charset transcode is a documented no-op cast-to-string (binary
    target keeps bytes)."""
    if len(args) == 1:
        um = re.match(
            r"(.+)\s+USING\s+(\w+)\s*$", args[0], re.IGNORECASE | re.DOTALL
        )
        if not um:
            raise ValueError("CONVERT expects 2 arguments")
        cs = um.group(2).lower()
        if cs not in (
            "utf8", "utf8mb3", "utf8mb4", "latin1", "ascii",
            "ucs2", "utf16", "utf32", "binary",
        ):
            raise ValueError(f"CONVERT USING: unknown charset {cs!r}")
        target = "BINARY" if cs == "binary" else "STRING"
        return f"CAST({um.group(1).strip()} AS {target})"
    if len(args) != 2:
        raise ValueError("CONVERT expects 1 or 2 arguments")
    expr, t = args[0], args[1].upper()
    cm = re.fullmatch(r"CHAR\s*\(\s*(\d+)\s*\)", t)
    if cm:
        # MariaDB CHAR(n) cast TRUNCATES to n chars (Spark's CHAR(n)
        # pads instead) — emit the truncation explicitly
        return f"substring(CAST({expr} AS STRING), 1, {cm.group(1)})"
    targets = dict(_CAST_TARGETS)
    if t in targets:
        t = targets[t]
    elif not re.fullmatch(
        r"(DEC(IMAL)?(\s*\(\s*\d+\s*(,\s*\d+\s*)?\))?|"
        r"DOUBLE(\s+PRECISION)?|REAL|"
        r"SIGNED(\s+INT(EGER)?)?|UNSIGNED(\s+INT(EGER)?)?|"
        r"FLOAT|DATE|TIMESTAMP|BIGINT|INT|BINARY)",
        t,
    ):
        raise ValueError(f"CONVERT: unsupported target type {t!r}")
    # numeric MariaDB targets stay in their MariaDB spelling here —
    # the loose cast pass owns their lowering
    return f"CAST({expr} AS {t})"


_rewrite_convert = _call_pass({"CONVERT": _convert})


def _rewrite_cast_targets(
    masked: str, store: list[str],
    numeric_columns: frozenset[str] = frozenset(),
) -> str:
    """``CAST(x AS SIGNED)`` / ``AS UNSIGNED`` / ``AS DATETIME`` /
    ``AS CHAR[(n)]`` → Spark-typed CAST targets (CHAR(n) spelled as an
    explicit truncation — MariaDB truncates where Spark's CHAR(n) pads),
    and the MariaDB two-argument ``CONVERT(expr, type)`` form →
    ``CAST(expr AS type)``. The call scanner lowers nested calls —
    CONVERT(CONVERT(x, CHAR), SIGNED) — innermost-first."""
    for mdb, spark_t in _CAST_TARGETS:
        masked = re.sub(
            rf"\bAS\s+{mdb}\s*\)", f"AS {spark_t})", masked, flags=re.I
        )
    masked = _rewrite_cast_char_n(masked, store)
    masked = _rewrite_convert(masked, store)
    # a zero-date literal is MariaDB's zero date, which a client reads
    # as NULL; Spark rejects the text, so it becomes a typed NULL
    masked = _ZERO_DATE_CAST_RE.sub(
        lambda m: f"CAST(NULL AS {m.group(2).upper()})"
        if _ZERO_DATE_RE.fullmatch(_literal_text(m.group(1), store) or "")
        else m.group(0),
        masked,
    )
    # LAST: MariaDB loose string→number cast semantics for the numeric
    # targets (runs after CHAR(n)/CONVERT so every nested cast spelling
    # inside an operand is already normalized)
    return _loose_cast_pass(masked, store, numeric_columns)


_JT_TYPES: tuple[tuple[str, str], ...] = (
    # MariaDB COLUMNS type → Spark cast target (JSON scalars only)
    (r"(TINYINT|SMALLINT|MEDIUMINT|INT|INTEGER)(\s*\(\d+\))?"
     r"(\s+UNSIGNED)?", "INT"),
    (r"BIGINT(\s*\(\d+\))?(\s+UNSIGNED)?", "BIGINT"),
    (r"DECIMAL(\s*\(\s*\d+\s*(,\s*\d+\s*)?\))?", None),  # keep as-is
    (r"(DOUBLE|REAL|FLOAT)(\s+PRECISION)?", "DOUBLE"),
    (r"(VARCHAR|CHAR)\s*\(\s*\d+\s*\)", "STRING"),
    (r"(TINY|MEDIUM|LONG)?TEXT", "STRING"),
    (r"JSON", "STRING"),
    (r"DATETIME(\s*\(\d+\))?|TIMESTAMP(\s*\(\d+\))?", "TIMESTAMP"),
    (r"DATE", "DATE"),
    (r"(BOOLEAN|BOOL)", "BOOLEAN"),
)


def _jt_spark_type(t: str) -> str:
    t = t.strip()
    for pat, target in _JT_TYPES:
        if re.fullmatch(pat, t, re.IGNORECASE):
            return t.upper() if target is None else target
    raise ValueError(f"JSON_TABLE: unsupported column type {t!r}")


def _jt_parse_columns(src: str, store: list[str]) -> list[dict]:
    """Parse a JSON_TABLE COLUMNS(...) body (masked text) into column
    specs: {kind: ordinality|path|exists|nested, ...}."""
    cols: list[dict] = []
    for entry in _split_top_level_commas(src):
        e = entry.strip()
        if not e:
            continue
        nm = re.match(r"NESTED\s+(PATH\s+)?(\x00\d+\x00)\s+COLUMNS\s*\(",
                      e, re.IGNORECASE)
        if nm:
            end = _find_balanced(e, e.index("(", nm.end() - 1))
            path = _literal_text(nm.group(2), store)
            cols.append({
                "kind": "nested",
                "path": path,
                "columns": _jt_parse_columns(e[nm.end(): end - 1], store),
            })
            continue
        om = re.match(r"(\S+)\s+FOR\s+ORDINALITY\s*$", e, re.IGNORECASE)
        if om:
            cols.append({"kind": "ordinality", "name": om.group(1)})
            continue
        xm = re.match(
            r"(\S+)\s+(.+?)\s+EXISTS\s+PATH\s+(\x00\d+\x00)\s*$",
            e, re.IGNORECASE | re.DOTALL,
        )
        if xm:
            cols.append({
                "kind": "exists",
                "name": xm.group(1),
                "type": _jt_spark_type(xm.group(2)),
                "path": _literal_text(xm.group(3), store),
            })
            continue
        pm = re.match(
            r"(\S+)\s+(.+?)\s+PATH\s+(\x00\d+\x00)"
            r"(\s+DEFAULT\s+(\x00\d+\x00|\S+)\s+ON\s+EMPTY)?"
            r"(\s+(NULL|DEFAULT\s+(\x00\d+\x00|\S+))\s+ON\s+ERROR)?"
            r"(\s+NULL\s+ON\s+EMPTY)?\s*$",
            e, re.IGNORECASE | re.DOTALL,
        )
        if not pm:
            raise ValueError(f"JSON_TABLE: cannot parse column {e!r}")
        cols.append({
            "kind": "path",
            "name": pm.group(1),
            "type": _jt_spark_type(pm.group(2)),
            "path": _literal_text(pm.group(3), store),
            "default": pm.group(5),
        })
    return cols


def _jt_container(elem_sql: str, path: str) -> tuple[str, bool]:
    """Split a row path into (container extraction SQL, iterates)."""
    path = path.strip()
    if path.endswith("[*]"):
        container = path[:-3] or "$"
        return (
            f"from_json(get_json_object({elem_sql}, "
            f"{_string_literal(container)}), 'array<string>')",
            True,
        )
    if path == "$":
        return f"array({elem_sql})", False
    return (
        f"array(get_json_object({elem_sql}, {_string_literal(path)}))",
        False,
    )


def _rewrite_json_table(masked: str, store: list[str]) -> str:
    """``JSON_TABLE(expr, '<row path>' COLUMNS(...)) [AS] alias`` →
    a Spark derived table: posexplode over ``from_json(...,
    'array<string>')`` (each element captured as raw JSON text, exactly
    the reference's row buffer), ``get_json_object`` + CAST per PATH
    column, ``pos+1`` for ORDINALITY (1-based, resets per parent row —
    MariaDB semantics), one additional LATERAL VIEW OUTER per NESTED
    PATH level. The whole replacement is stored as a single mask token
    so later rewrite passes cannot fire inside the generated SQL.

    MariaDB 10.6 JSON_TABLE is a server-side table function the
    reference's users get upstream of the engine; Spark-first it is a
    lateral-view pipeline that stays JVM-side (no UDF) and parallelizes
    per source row.
    """
    pat = re.compile(r"\bJSON_TABLE\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(masked)
        if not m:
            return masked
        open_at = masked.index("(", m.end() - 1)
        end = _find_balanced(masked, open_at)
        parts = _split_top_level_commas(masked[open_at + 1 : end - 1])
        if len(parts) < 2:
            raise ValueError("JSON_TABLE expects (expr, path COLUMNS(...))")
        src_expr = _unmask(parts[0].strip(), store)
        spec = ",".join(parts[1:]).strip()
        sm = re.match(r"(\x00\d+\x00)\s+COLUMNS\s*\(", spec, re.IGNORECASE)
        if not sm:
            raise ValueError(
                "JSON_TABLE: expected '<path>' COLUMNS(...) after expr"
            )
        row_path = _literal_text(sm.group(1), store)
        cend = _find_balanced(spec, spec.index("(", sm.end() - 1))
        if spec[cend:].strip():
            raise ValueError(
                f"JSON_TABLE: trailing tokens {spec[cend:].strip()!r}"
            )
        cols = _jt_parse_columns(spec[sm.end() : cend - 1], store)

        laterals: list[str] = []
        projections: list[str] = []
        level = 0

        def emit(cols: list[dict], parent_elem: str, path: str) -> None:
            nonlocal level
            lvl = level
            level += 1
            arr, _ = _jt_container(parent_elem, path)
            laterals.append(
                f"LATERAL VIEW OUTER posexplode({arr}) _jtv{lvl} "
                f"AS _jt_o{lvl}, _jt_e{lvl}"
            )
            elem = f"_jt_e{lvl}"
            for c in cols:
                if c["kind"] == "ordinality":
                    projections.append(
                        f"CAST(_jt_o{lvl} + 1 AS BIGINT) AS {c['name']}"
                    )
                elif c["kind"] == "exists":
                    projections.append(
                        f"CAST(get_json_object({elem}, "
                        f"{_string_literal(c['path'])}) IS NOT NULL "
                        f"AS {c['type']}) AS {c['name']}"
                    )
                elif c["kind"] == "path":
                    if c["path"].strip() == "$":
                        # element itself (already unquoted raw value for
                        # scalars; raw JSON text for objects/arrays)
                        val = elem
                    else:
                        val = (
                            f"get_json_object({elem}, "
                            f"{_string_literal(c['path'])})"
                        )
                    cast = f"CAST({val} AS {c['type']})"
                    if c.get("default"):
                        dflt = _unmask(c["default"], store)
                        cast = (
                            f"coalesce({cast}, CAST({dflt} AS {c['type']}))"
                        )
                    projections.append(f"{cast} AS {c['name']}")
                else:  # nested
                    emit(c["columns"], elem, c["path"])

        emit(cols, "_jt_src", row_path)
        replacement = (
            "(SELECT " + ", ".join(projections)
            + f" FROM (SELECT {src_expr} AS _jt_src) "
            + " ".join(laterals) + ")"
        )
        # MariaDB JSON_TABLE is implicitly lateral: when it follows a
        # comma or JOIN its source expr may reference the preceding
        # table, which Spark only allows under the LATERAL keyword
        before = masked[: m.start()].rstrip()
        if before.endswith(",") or re.search(
            r"\bJOIN\s*$", before, re.IGNORECASE
        ):
            replacement = "LATERAL " + replacement
        ph = _PH.format(len(store))
        store.append(replacement)
        masked = masked[: m.start()] + ph + masked[end:]


#: Binary operators that bind TIGHTER than Oracle-mode || in MariaDB
#: (sql_yacc_ora.yy: '+'/'-'/'*'/'/'/'%'/'^' all sit above the concat
#: production), so `a + b || c` parses `(a + b) || c` and the operand
#: scanner must swallow the whole arithmetic expression.
_ORA_ARITH = "+-*/%^"
#: Word-spelled tight-binding operators the scanner does NOT extend
#: across — raise loudly instead of silently mis-associating.
_ORA_WORD_OPS = frozenset({"DIV", "MOD"})
#: Bare words that can never be a ||-operand (clause keywords); NULL /
#: TRUE / FALSE / literals stay valid operands.
_ORA_NON_OPERAND_WORDS = frozenset({
    "SELECT", "FROM", "WHERE", "WHEN", "THEN", "ELSE", "AND", "OR",
    "NOT", "XOR", "ON", "BY", "AS", "IN", "IS", "LIKE", "BETWEEN",
    "ESCAPE", "HAVING", "LIMIT", "OFFSET", "UNION", "ALL", "DISTINCT",
    "SET", "VALUES", "RETURNING", "JOIN", "USING", "CASE",
})

_ORA_CASE_TOK = re.compile(r"\b(CASE|END)\b", re.IGNORECASE)


def _ora_case_right(s: str, i: int) -> int | None:
    """End index (exclusive) of the CASE...END expression whose CASE
    keyword starts at i (CASE/END pairs nest)."""
    depth = 0
    for m in _ORA_CASE_TOK.finditer(s, i):
        if m.group(1).upper() == "CASE":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return m.end()
    return None


def _ora_case_left(s: str, j: int) -> int | None:
    """Start index of the CASE matching the END that ends at j."""
    depth = 0
    for m in reversed(list(_ORA_CASE_TOK.finditer(s, 0, j))):
        if m.group(1).upper() == "END":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return m.start()
    return None


def _ora_primary_right(s: str, i: int) -> int | None:
    """End index (exclusive) of ONE primary starting at/after i on
    MASKED text: placeholder, (dotted) identifier / function call,
    parenthesized expression, CASE...END, with unary +/- prefixes.
    None when unparsable."""
    n = len(s)
    while i < n and s[i].isspace():
        i += 1
    while i < n and s[i] in "+-":  # unary sign(s)
        i += 1
        while i < n and s[i].isspace():
            i += 1
    if i >= n:
        return None
    if s[i] == "\x00":
        j = s.index("\x00", i + 1)
        return j + 1
    if s[i] == "(":
        return _find_balanced(s, i)
    m = re.match(r"\w+(?:\.\w+)*", s[i:])
    if not m:
        return None
    word = m.group(0).upper()
    if word == "CASE":
        return _ora_case_right(s, i)
    if word in _ORA_NON_OPERAND_WORDS or word in _ORA_WORD_OPS:
        return None
    j = i + m.end()
    k = j
    while k < n and s[k].isspace():
        k += 1
    if k < n and s[k] == "(":
        return _find_balanced(s, k)
    return j


def _ora_operand_right(s: str, i: int) -> int | None:
    """End index (exclusive) of the ||-operand starting at/after i:
    a primary, extended across binary arithmetic operators (which
    bind tighter than Oracle-mode ||). None when unparsable; raises
    on DIV/MOD adjacency (word operators the scanner refuses to
    silently mis-associate)."""
    n = len(s)
    end = _ora_primary_right(s, i)
    if end is None:
        return None
    while True:
        k = end
        while k < n and s[k].isspace():
            k += 1
        if k < n and s[k] in _ORA_ARITH:
            nxt = _ora_primary_right(s, k + 1)
            if nxt is None:
                raise ValueError(
                    "oracle-mode || arithmetic operand not understood "
                    "near: " + s[max(0, k - 40) : k + 40]
                )
            end = nxt
            continue
        m = re.match(r"(\w+)", s[k:])
        if m and m.group(1).upper() in _ORA_WORD_OPS:
            raise ValueError(
                "oracle-mode || adjacent to word operator "
                f"{m.group(1)}: not supported near: "
                + s[max(0, k - 40) : k + 40]
            )
        return end


def _ora_primary_left(s: str, i: int) -> int | None:
    """Start index of ONE primary ending just before i (mirrored scan
    of ``_ora_primary_right``)."""
    j = i
    while j > 0 and s[j - 1].isspace():
        j -= 1
    if j == 0:
        return None
    c = s[j - 1]
    if c == "\x00":
        return s.rindex("\x00", 0, j - 1)
    if c == ")":
        depth, k = 0, j - 1
        while k >= 0:
            if s[k] == ")":
                depth += 1
            elif s[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        if k < 0:
            return None
        m = re.search(r"(\w+(?:\.\w+)*)\s*$", s[:k])
        if m and m.group(1).upper() in _ORA_NON_OPERAND_WORDS:
            return k
        return m.start(1) if m else k
    m = re.search(r"(\w+(?:\.\w+)*)$", s[:j])
    if not m:
        return None
    word = m.group(1).upper()
    if word == "END":
        return _ora_case_left(s, j)
    if word in _ORA_NON_OPERAND_WORDS or word in _ORA_WORD_OPS:
        return None
    return m.start(1)


def _ora_operand_left(s: str, i: int) -> int | None:
    """Start index of the ||-operand ending just before i: a primary,
    extended across binary arithmetic (and unary signs) to the left.
    Raises on DIV/MOD adjacency instead of mis-associating."""
    start = _ora_primary_left(s, i)
    if start is None:
        return None
    while True:
        k = start
        while k > 0 and s[k - 1].isspace():
            k -= 1
        if k > 0 and s[k - 1] in _ORA_ARITH:
            op = s[k - 1]
            prev = _ora_primary_left(s, k - 1)
            if prev is not None:
                start = prev  # binary: swallow the left operand too
                continue
            if op in "+-":
                start = k - 1  # unary sign: part of this operand
                continue
            raise ValueError(
                "oracle-mode || arithmetic operand not understood "
                "near: " + s[max(0, k - 40) : k + 40]
            )
        m = re.search(r"(\w+)\s*$", s[:k])
        if m and m.group(1).upper() in _ORA_WORD_OPS:
            raise ValueError(
                "oracle-mode || adjacent to word operator "
                f"{m.group(1)}: not supported near: "
                + s[max(0, k - 40) : k + 40]
            )
        return start


def _oracle_concat_chain(masked: str) -> str:
    """Infix ``a || b || ...`` → Oracle concat
    (func_concat.cpp Item_func_concat_operator_oracle, exercised by
    mysql-test/columnstore/oracle/func_concat_oracle.test): NULL
    operands become '' — unless EVERY operand is NULL, in which case
    the result is NULL ('a'||NULL → 'a'; NULL||NULL → NULL;
    ''||'' → ''). Token-scanner based (not a fixed-depth regex):
    Spark's native || is valid-but-NULL-PROPAGATING SQL, so a missed
    rewrite would silently change answers — every chain must be
    found, and operands are rewritten recursively so chains nested
    inside function arguments are handled too. An unparsable operand
    raises instead of passing through."""
    while True:
        p = masked.find("||")
        if p == -1:
            return masked
        lstart = _ora_operand_left(masked, p)
        rend = _ora_operand_right(masked, p + 2)
        if lstart is None or rend is None:
            raise ValueError(
                "oracle-mode || operand not understood near: "
                + masked[max(0, p - 40) : p + 40]
            )
        ops = [masked[lstart:p].strip(), masked[p + 2 : rend].strip()]
        start, end = lstart, rend
        while True:  # extend the chain rightward (left-associative)
            m2 = re.match(r"\s*\|\|", masked[end:])
            if not m2:
                break
            nend = _ora_operand_right(masked, end + m2.end())
            if nend is None:
                raise ValueError(
                    "oracle-mode || operand not understood near: "
                    + masked[end : end + 60]
                )
            ops.append(masked[end + m2.end() : nend].strip())
            end = nend
        # chains hiding inside function-call operands
        ops = [_oracle_concat_chain(o) for o in ops]
        all_null = " AND ".join(f"({o}) IS NULL" for o in ops)
        parts = ", ".join(
            f"coalesce(CAST({o} AS STRING), '')" for o in ops)
        repl = (f"(CASE WHEN {all_null} THEN NULL"
                f" ELSE concat({parts}) END)")
        masked = masked[:start] + repl + masked[end:]


def _oracle_concat_fn(name: str, args: list[str], store: list[str]):
    """CONCAT(...) under Oracle mode maps to the same null-skipping
    concat (funcexp.cpp:98 registers concat_operator_oracle; the
    reference's oracle/func_concat_oracle.test runs
    ``SELECT CONCAT('a'||'b'||'c')`` and the .result shows the server
    lowering BOTH the function and the operator to the oracle concat).
    Each call becomes a parenthesized ||-chain that
    ``_oracle_concat_chain`` (which runs next in the prepass) expands
    to the null-skipping semantics. Every arg is parenthesized so
    operator precedence inside an arg can never re-associate across
    the chain. CONCAT()/empty args are left as written so Spark errors
    loudly, mirroring the MariaDB parse error."""
    if not args or not all(args):
        return None
    return "(" + " || ".join(f"({a})" for a in args) + ")"


def _oracle_decode(name: str, args: list[str], store: list[str]):
    """DECODE(expr, s1, r1[, s2, r2 ...][, default]) → dialect
    .decode_oracle, a null-safe CASE (func_case.cpp decode_oracle;
    MDEV-13863: two NULLs are equivalent, unlike CASE equality).
    MariaDB errors on <3 args; such a call is left as written so Spark
    errors loudly too, and the scan goes on."""
    if len(args) < 3:
        return None
    tpl = _render(name, dialect.decode_oracle, ("void",) * len(args))
    return tpl.fill(args, store)


def _oracle_empty_to_null(name: str, args: list[str], store: list[str]):
    """TRIM/LTRIM/RTRIM (incl. [BOTH|LEADING|TRAILING x FROM y]) and
    REPLACE under Oracle mode: '' IS NULL, so an empty RESULT collapses
    to NULL (func_trim.cpp / func_replace.cpp *_oracle;
    func_trim_oracle.result shows TRIM('  ') → NULL). REPLACE
    additionally treats a NULL search as a no-op and a NULL
    replacement as deletion (func_replace_oracle.result)."""
    if name != "REPLACE":
        return f"nullif({name}({', '.join(args)}), '')"
    if len(args) != 3:
        return None
    return (
        f"nullif(replace({args[0]}, coalesce({args[1]}, ''),"
        f" coalesce({args[2]}, '')), '')"
    )


_oracle_functions = _call_pass({
    "DECODE": _oracle_decode,
    "CONCAT": _oracle_concat_fn,
    **dict.fromkeys(("TRIM", "LTRIM", "RTRIM", "REPLACE"),
                    _oracle_empty_to_null),
})


def oracle_mode_prepass(sql: str) -> str:
    """sql_mode=ORACLE function-variant pre-pass (r11).

    The reference implements Oracle mode as alternate funcexp entries
    (concat_oracle, decode_oracle, trim_oracle, replace_oracle — see
    utils/funcexp/func_concat.cpp, func_case.cpp, func_trim.cpp,
    func_replace.cpp) selected when the session runs under
    sql_mode=ORACLE, with expected behavior pinned by
    mysql-test/columnstore/oracle/*.result. This pass rewrites exactly
    those variants into Spark-SQL spellings BEFORE the normal dialect
    translation; everything else flows through unchanged. NVL is the
    Oracle-mode alias of IFNULL.

    Coverage vs the reference's oracle funcexp registrations
    (funcexp.cpp:98-253): concat_operator_oracle (both infix || and
    the CONCAT() spelling), decode_oracle, ltrim/rtrim/trim_oracle,
    replace_oracle — the complete *_oracle inventory. Unparsable
    ||-operand shapes (DIV/MOD adjacency, malformed arithmetic) raise
    rather than silently emitting semantics-changing SQL."""
    masked, store = _mask(sql)
    masked = _oracle_functions(masked, store)
    masked = _oracle_concat_chain(masked)
    masked = re.sub(r"\bNVL\s*\(", "coalesce(", masked,
                    flags=re.IGNORECASE)
    # FROM dual: Oracle's dummy table — Spark needs no FROM at all
    masked = re.sub(r"\s+FROM\s+dual\b", " ", masked,
                    flags=re.IGNORECASE)
    return _unmask(masked, store)


def translate_statement(
    sql: str, string_columns: frozenset[str] = frozenset(),
    numeric_columns: frozenset[str] = frozenset(),
) -> str:
    """MariaDB statement → Spark SQL statement (see module docstring).

    Pure-ANSI input passes through unchanged (modulo a stripped trailing
    semicolon), so it is safe to run on every statement.

    ``string_columns``: lowercase names of catalog columns known to be
    string-typed (the Engine passes its catalog's). MariaDB's parser
    has the catalog at hand and applies loose string→number coercion
    at every numeric context; with the set provided, string columns
    used as math-function args or as bare boolean operands get the
    same my_strtod prefix read instead of Spark's ANSI cast error.

    ``numeric_columns``: lowercase names of catalog columns statically
    known numeric (Catalog.numeric_columns) — enables the r12 direct
    loose-cast parse for bare references to them. PRECONDITION: a name
    in the set must really be the catalog column wherever it appears
    in ``sql``. Explicit ``AS <name>`` aliases that shadow a set member
    (e.g. a derived table re-deriving a numeric name from a string
    expression) are detected below and the shadowed name is dropped
    back to the proven CAST-to-string path; an IMPLICIT (AS-less)
    column alias that shadows a set member is the caller's
    responsibility to avoid (ADVICE r12).
    """
    masked, store = _mask(sql)

    if numeric_columns:
        # shadowing guard: any `AS <name>` alias target in the statement
        # may redefine <name> with non-catalog semantics — drop those
        # names from the fast-path set (conservative: table aliases and
        # unrelated column aliases only disable an optimization).
        # Quoted aliases (`x`, 'x') are mask placeholders: resolve them.
        shadowed = {
            (m.group(1) or store[int(m.group(2))].strip("`'\"")).lower()
            for m in re.finditer(
                r"\bAS\s+(?:(\w+)|\x00(\d+)\x00)", masked, re.IGNORECASE
            )
        }
        if shadowed & numeric_columns:
            numeric_columns = numeric_columns - frozenset(shadowed)

    masked = re.sub(rf"\b({_SELECT_OPTIONS})\b\s*", "", masked, flags=re.I)
    masked = re.sub(
        r"\b(SELECT\s+(?:DISTINCT\s+)?)STRAIGHT_JOIN\b\s*",
        r"\1",
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(r"\bSTRAIGHT_JOIN\b", "JOIN", masked, flags=re.I)
    # index hints — USE/FORCE/IGNORE INDEX|KEY [FOR JOIN|ORDER BY|
    # GROUP BY] (name, ...): MariaDB parses these on every table and
    # the ColumnStore handler ignores them (no secondary indexes —
    # same reason SHOW INDEX reports declared keys only), so migrated
    # InnoDB workloads carry them constantly. Accept-and-strip, like
    # the reference (mysqld sql_yacc.yy parses; the plugin never sees
    # them). Backticked index names are mask placeholders (\x00N\x00).
    masked = re.sub(
        r"\b(?:USE|FORCE|IGNORE)\s+(?:INDEX|KEY)\s*"
        r"(?:FOR\s+(?:JOIN|ORDER\s+BY|GROUP\s+BY)\s*)?"
        r"\(\s*[\w`,\s.\x00]*?\)",
        "",
        masked,
        flags=re.IGNORECASE,
    )
    # row-lock trailers: no row locks in a batch columnar engine (the
    # reference likewise treats them as no-ops on ColumnStore tables)
    masked = re.sub(
        r"\s+(FOR\s+UPDATE|LOCK\s+IN\s+SHARE\s+MODE)\s*(;?\s*)$",
        r"\2",
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", r"LIMIT \2 OFFSET \1", masked,
        flags=re.IGNORECASE,
    )
    # FROM DUAL (MariaDB's no-table SELECT idiom; inherited from
    # Oracle): Spark spells it as a FROM-less SELECT
    masked = re.sub(
        r"\bFROM\s+DUAL\b", "", masked, flags=re.IGNORECASE
    )
    # INFORMATION_SCHEMA plugin tables (i_s.test): the dotted MTR
    # spellings map to the engine's registered i_s views
    # (Engine.refresh_information_schema builds them; the engine
    # auto-refreshes when a statement references INFORMATION_SCHEMA)
    masked = re.sub(
        r"\bINFORMATION_SCHEMA\s*\.\s*(?:COLUMNSTORE_)?"
        r"(TABLES|COLUMNS|EXTENTS|FILES)\b",
        lambda m: f"information_schema_{m.group(1).lower()}",
        masked,
        flags=re.IGNORECASE,
    )
    # ODBC-style unit spellings: TIMESTAMPADD(SQL_TSI_MINUTE, ...) —
    # MariaDB accepts both; Spark's native timestampadd/timestampdiff
    # take the bare unit keyword (mcs277_timestampadd_function.test)
    masked = re.sub(
        r"\bSQL_TSI_(SECOND|MINUTE|HOUR|DAY|WEEK|MONTH|QUARTER|YEAR)\b",
        r"\1",
        masked,
        flags=re.IGNORECASE,
    )
    # MariaDB div/mod-by-zero → NULL: rewrite the user's / and %
    # operators to try_divide/try_mod BEFORE any pass that injects
    # engine-internal divisions (which keep plain operators)
    masked = _rewrite_null_safe_division(masked, store)
    # logical XOR (MariaDB boolean operator between AND and OR in
    # precedence; Spark has no spelling) — runs early so later passes
    # still translate MariaDB-isms inside the captured operands
    masked = _rewrite_logical_xor(masked, store)
    # row constructors compared with =/<> lower to the element-wise
    # conjunction (Spark struct comparison demands exact type equality)
    masked = _rewrite_row_constructor_cmp(masked, store)
    # double-quoted aliases: MariaDB (default sql_mode) accepts a
    # string literal in alias position (SELECT sum(x) "total");
    # Spark needs an identifier
    masked = _rewrite_string_aliases(masked, store)
    # MariaDB implicit coercions Spark's ANSI mode rejects or casts
    # the wrong way (mcs7005/7031/7069/7108 shapes): boolean CASE
    # subjects/operands → INT, string-vs-number CASE/IF branches →
    # STRING, string columns in numeric/boolean contexts → my_strtod
    # prefix reads. Run BEFORE the cast/collate passes so only
    # user-written CASEs are scanned, AFTER alias handling so quoted
    # aliases are already identifiers.
    masked = _rewrite_case_coercions(masked, store, string_columns)
    masked = _rewrite_loose_string_args(masked, store, string_columns)
    # user-written GREATEST/LEAST/SYSDATE only: runs before any pass
    # emits its own least(greatest(...)) clamps
    masked = _rewrite_null_fns(masked, store)
    masked = _rewrite_with_rollup(masked, store)
    masked = _rewrite_cast_targets(masked, store, numeric_columns)
    # inline collation forms run AFTER cast targets so CAST(x AS
    # BINARY) / CONVERT(x USING binary) are already consumed and the
    # bare unary BINARY / expr COLLATE spellings are all that remain
    masked = _rewrite_inline_collate(masked, store)
    masked = _rewrite_binary_operator(masked, store)
    masked = _rewrite_group_concat(masked, store)
    masked = _rewrite_interval_arith(masked, store)
    masked = _rewrite_functions(masked, store)
    # MariaDB's bare STDDEV()/STD()/VARIANCE() are the POPULATION
    # variants (MySQL heritage; utils/windowfunction/wf_stats.cpp
    # divides by n for W__STDDEV/W__VARIANCE) while Spark's STDDEV/
    # VARIANCE alias the SAMPLE forms — rewrite to explicit *_POP
    # BEFORE the suffix-frame passes so they get the O(n) lowering
    masked = re.sub(
        r"\b(?:STDDEV|STD)\s*\(", "STDDEV_POP(", masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        r"\bVARIANCE\s*\(", "VAR_POP(", masked, flags=re.IGNORECASE
    )
    # named WINDOW clauses expand to inline OVER specs (r10) so the
    # window rewrites below — CORR terms, empty frames, and above all
    # the O(n) suffix-frame lowering — fire on named windows too (the
    # MTR window batteries define their frames via WINDOW w AS (...);
    # inline-only parsing left those on Spark's O(n^2) native path)
    masked = _expand_named_windows(masked)
    masked = _rewrite_corr(masked, store)
    # inverted literal ROWS frames (start > end) are EMPTY frames in
    # MariaDB; Spark rejects them — lower to the empty-frame value
    masked = _rewrite_inverted_frames(masked, store)
    # suffix ROWS frames ([k PRECEDING|CURRENT ROW] .. UNBOUNDED
    # FOLLOWING) are O(n^2) in Spark's UnboundedFollowing frame
    # processor; mirror them onto the reversed-order O(n) running
    # frame (incl. the covar/stddev terms _rewrite_corr just emitted)
    masked = _rewrite_suffix_frames(masked, store)
    # JSON_TABLE runs after the expression rewrites (so MariaDB-isms in
    # its source expr are already translated) and stores its generated
    # SQL as one mask token (no later pass can fire inside it)
    masked = _rewrite_json_table(masked, store)
    masked = re.sub(r";\s*$", "", masked)

    return _unmask(masked, store)


def split_script(script: str) -> list[str]:
    """Split a multi-statement script on semicolons, mask-aware (a ``;``
    inside a literal or comment never splits) and block-aware: a ``;``
    inside a ``BEGIN .. END`` body (CREATE PROCEDURE/FUNCTION) or a
    ``CASE .. END`` expression does not split either — MTR scripts use
    DELIMITER for this; the depth tracker makes that unnecessary here.
    A standalone transaction ``BEGIN`` (its own fragment) is a
    statement, not a block opener. Empty fragments drop."""
    masked, store = _mask(script)
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for frag in masked.split(";"):
        opens = len(re.findall(r"\bBEGIN\b|\bCASE\b", frag, re.IGNORECASE))
        closes = len(re.findall(r"\bEND\b", frag, re.IGNORECASE))
        if (
            depth == 0
            and not buf
            and re.fullmatch(
                r"\s*BEGIN(\s+WORK)?\s*", frag, re.IGNORECASE
            )
        ):
            opens -= 1  # transaction BEGIN, not a block
        buf.append(frag)
        depth += opens - closes
        if depth <= 0:
            stmt = _unmask(";".join(buf), store).strip()
            if stmt:
                out.append(stmt)
            buf, depth = [], 0
    if buf:
        stmt = _unmask(";".join(buf), store).strip()
        if stmt:
            out.append(stmt)
    return out


def _collate_operand_start(masked: str, end: int) -> int:
    """Index where the primary expression ending just before ``end``
    begins. COLLATE / unary BINARY bind to the preceding primary
    (identifier, qualified name, mask placeholder, function call, or
    parenthesized expression) — the same tight binding MariaDB's
    grammar gives COLLATE (sql_yacc.yy: COLLATE_SYM attaches to
    simple_expr)."""
    j = end
    while j > 0 and masked[j - 1].isspace():
        j -= 1
    if j == 0:
        raise ValueError("COLLATE/BINARY: missing operand")
    if masked[j - 1] == ")":
        depth, k = 0, j - 1
        while k >= 0:
            if masked[k] == ")":
                depth += 1
            elif masked[k] == "(":
                depth -= 1
                if depth == 0:
                    break
            k -= 1
        if k < 0:
            raise ValueError("COLLATE/BINARY: unbalanced operand")
        # absorb an attached function name (fn( ... )) unless it is a
        # keyword, in which case the parens alone are the operand
        fm = re.search(r"([A-Za-z_][\w$]*)\s*$", masked[:k])
        if fm and fm.group(1).upper() not in (
            "AND", "OR", "NOT", "XOR", "WHEN", "THEN", "ELSE", "IN",
            "ON", "WHERE", "SELECT", "BY", "CASE", "END", "LIKE",
            "BETWEEN", "IS", "AS", "FROM", "HAVING", "JOIN", "DISTINCT",
        ):
            return fm.start()
        return k
    tm = re.search(r"((?:[\w$.]|\x00)+)$", masked[:j])
    if not tm:
        raise ValueError("COLLATE/BINARY: missing operand")
    return tm.start()


def _rewrite_inline_collate(masked: str, store: list[str]) -> str:
    """``expr COLLATE collation_name`` → ``collate(expr, '<icu>')``.

    MariaDB allows COLLATE on any string expression (WHERE, ORDER BY,
    GROUP BY, select list — sql_yacc.yy simple_expr COLLATE_SYM);
    collation-aware compare is core reference behavior (SURVEY §1.2,
    utils/common/collation.h). The name maps through the same
    dialect.spark_collation table the DDL path uses, so inline and
    declared collations can never disagree. A binary collation maps to
    'UTF8_BINARY' (forces binary compare even on a column read with a
    declared CI collation); unknown names raise, matching the server's
    'Unknown collation' error."""
    pat = re.compile(
        r"\s+COLLATE\s+([A-Za-z][\w]*|\x00\d+\x00)", re.IGNORECASE
    )
    while True:
        m = pat.search(masked)
        if not m:
            return masked
        from mariadb_columnstore_engine_spark.functions.dialect import (
            spark_collation,
        )

        raw = m.group(1)
        if raw.startswith("\x00"):
            raw = _unmask(raw, store)
        icu = spark_collation(raw) or "UTF8_BINARY"
        start = _collate_operand_start(masked, m.start())
        operand = masked[start : m.start()].strip()
        masked = (
            masked[:start]
            + f"collate({operand}, '{icu}')"
            + masked[m.end():]
        )


def _rewrite_binary_operator(masked: str, store: list[str]) -> str:
    """Unary ``BINARY expr`` → ``collate(CAST(expr AS STRING),
    'UTF8_BINARY')`` — MariaDB's cast-to-binary-collation operator
    (sql_yacc.yy: BINARY simple_expr), forcing a case-sensitive
    compare regardless of column collation. ``CAST(x AS BINARY)`` and
    type positions (``AS BINARY``, ``USING binary``) are consumed by
    _rewrite_cast_targets before this pass; the preceding-token guard
    skips any that remain."""
    pat = re.compile(r"\bBINARY\b", re.IGNORECASE)
    out: list[str] = []
    i = 0
    while True:
        m = pat.search(masked, i)
        if not m:
            out.append(masked[i:])
            return "".join(out)
        before = masked[: m.start()]
        pm = re.search(r"(\w+)\s*$", before)
        if pm and pm.group(1).upper() in ("AS", "USING"):
            out.append(masked[i : m.end()])
            i = m.end()
            continue
        wm = re.match(r"\s+", masked[m.end():])
        if not wm:
            # BINARY( — type spelling BINARY(n); not the operator
            out.append(masked[i : m.end()])
            i = m.end()
            continue
        j = m.end() + wm.end()
        if j >= len(masked):
            out.append(masked[i:])
            return "".join(out)
        if masked[j] == "(":
            end = _find_balanced(masked, j)
        else:
            tm = re.match(r"(?:[\w$.]|\x00)+", masked[j:])
            if not tm:
                out.append(masked[i : m.end()])
                i = m.end()
                continue
            end = j + tm.end()
            # attached function call: fn(...)
            if (
                end < len(masked)
                and masked[end] == "("
                and re.match(r"[A-Za-z_]", masked[j])
            ):
                end = _find_balanced(masked, end)
        operand = masked[j:end]
        out.append(masked[i : m.start()])
        out.append(f"collate(CAST({operand} AS STRING), 'UTF8_BINARY')")
        i = end


def _rewrite_corr(masked: str, store: list[str]) -> str:
    """CORR(x, y) — aggregate or window — rewritten with
    ``try_divide`` (mcs6178_windowFunctions_CORR.test): Spark's native
    ``corr`` divides by the frame stddevs and, under ANSI mode, THROWS
    on a zero-variance frame (running frames with tied x values),
    where MariaDB/the reference return NULL.

    Both the aggregate form and every non-suffix window frame become

        try_divide(covar_pop(x,y), stddev_pop(x)*stddev_pop(y))

    over pairwise-non-NULL doubles — Spark's central-moment aggregates
    use Welford-style updates, so there is no raw-moment cancellation
    on large-magnitude inputs, all three terms share one Window node
    (same spec), and a zero-variance frame yields NULL (0-divide) like
    MariaDB. Suffix ROWS frames need no special casing here: the
    emitted covar/stddev terms carry the user's OVER spec, and the
    later _rewrite_suffix_frames pass mirrors any suffix spec onto the
    reversed-order O(n) running frame."""
    pat = re.compile(r"\bCORR\s*\(", re.IGNORECASE)
    out, i = [], 0
    while True:
        m = pat.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        open_at = masked.index("(", m.start())
        end = _find_balanced(masked, open_at)
        args = _split_top_level_commas(masked[open_at + 1 : end - 1])
        if len(args) != 2:
            raise ValueError("CORR expects 2 arguments")
        a, b = args[0].strip(), args[1].strip()
        pair = f"(({a}) IS NOT NULL AND ({b}) IS NOT NULL)"
        xa = f"(CASE WHEN {pair} THEN CAST(({a}) AS DOUBLE) END)"
        yb = f"(CASE WHEN {pair} THEN CAST(({b}) AS DOUBLE) END)"
        # absorb a following OVER (...) / OVER name
        tail = masked[end:]
        om = re.match(r"\s*OVER\s*", tail, re.IGNORECASE)
        over = ""
        if om:
            rest = tail[om.end():]
            if rest.startswith("("):
                close = _find_balanced(tail, om.end())
                over = " OVER " + tail[om.end():close]
                end += close
            else:
                wm = re.match(r"[\w`]+", rest)
                if wm:
                    over = " OVER " + wm.group(0)
                    end += om.end() + wm.end()
        # aggregate AND non-suffix window forms share the native
        # Welford shape: covar_pop / (stddev_pop * stddev_pop) over
        # pairwise-non-NULL doubles — one Window node when windowed
        # (same spec), no raw-moment cancellation, NULL (0-divide) on
        # a zero-variance frame like MariaDB
        rendered = (
            f"try_divide(covar_pop({xa}, {yb}){over},"
            f" stddev_pop({xa}){over} * stddev_pop({yb}){over})"
        )
        out.append(masked[i : m.start()])
        out.append(rendered)
        i = end
    return "".join(out)


#: one WINDOW-clause item: name AS ( ...
_WINDOW_DEF_RE = re.compile(
    r"\bWINDOW\s+([A-Za-z_]\w*)\s+AS\s*\(", re.IGNORECASE
)


def _expand_named_windows(masked: str) -> str:
    """Expand ``WINDOW name AS (spec)`` definitions into the ``OVER
    name`` references and drop the clause — Spark evaluates named
    windows identically, but the dialect window rewrites (suffix-frame
    O(n) lowering, inverted empty frames, CORR terms) parse only
    inline ``OVER (spec)`` text.

    Conservative: exactly ONE window clause per statement (names are
    per-SELECT-scope; with a single definition site, every bare ``OVER
    name`` reference is unambiguous), no chained definitions (``w2 AS
    (w1 ...)``) and no inheritance references (``OVER (w ORDER BY
    ...)``) — anything fancier passes through untouched to Spark's
    native named-window support."""
    m = _WINDOW_DEF_RE.search(masked)
    if not m or _WINDOW_DEF_RE.search(masked, m.end()):
        return masked
    # parse the comma-separated definition list: name AS (spec), ...
    defs: dict[str, str] = {}
    i = m.start()
    cursor = i + len("WINDOW")
    while True:
        dm = re.match(
            r"\s*([A-Za-z_]\w*)\s+AS\s*\(", masked[cursor:],
            re.IGNORECASE,
        )
        if not dm:
            return masked  # malformed / unsupported shape
        open_at = cursor + dm.end() - 1
        close = _find_balanced(masked, open_at)
        defs[dm.group(1)] = masked[open_at + 1 : close - 1].strip()
        cursor = close
        nm = re.match(r"\s*,", masked[cursor:])
        if not nm:
            break
        cursor += nm.end()
    # unsupported: a spec that starts with (or references) another
    # defined name (window chaining)
    for spec in defs.values():
        head = re.match(r"[A-Za-z_]\w*", spec)
        if head and head.group(0) in defs:
            return masked
    # unsupported: inheritance form OVER (name ...) for a defined name
    for name in defs:
        if re.search(
            rf"\bOVER\s*\(\s*{name}\b", masked, re.IGNORECASE
        ):
            return masked
    out = masked[:i] + masked[cursor:]
    for name, spec in defs.items():
        out = re.sub(
            rf"\bOVER\s+{re.escape(name)}\b(?!\s*\()",
            lambda _m, s=spec: f"OVER ({s})",
            out,
            flags=re.IGNORECASE,
        )
    return out


#: suffix ROWS frame at the END of an inline OVER spec:
#: [k PRECEDING | CURRENT ROW] .. UNBOUNDED FOLLOWING
_SUFFIX_FRAME_RE = re.compile(
    r"\bROWS\s+BETWEEN\s+(?:(?P<k>\d+)\s+PRECEDING|(?P<cur>CURRENT\s+ROW))"
    r"\s+AND\s+UNBOUNDED\s+FOLLOWING\s*$",
    re.IGNORECASE,
)


def _parse_suffix_over(masked: str, end: int):
    """If the text at ``end`` (just past an aggregate's ``)``) is an
    inline ``OVER (spec)`` whose spec ends in a suffix ROWS frame,
    return ``(new_end, partition_clause, order_clause, k)`` where the
    clauses are the raw spec fragments ('' when absent) and ``k`` is
    the PRECEDING offset (0 for CURRENT ROW). Otherwise None."""
    tail = masked[end:]
    om = re.match(r"\s*OVER\s*\(", tail, re.IGNORECASE)
    if not om:
        return None
    close = _find_balanced(tail, om.end() - 1)
    spec = tail[om.end() : close - 1].strip()
    fm = _SUFFIX_FRAME_RE.search(spec)
    if not fm:
        return None
    head = spec[: fm.start()].strip()
    pm = re.match(
        r"(?:PARTITION\s+BY\s+(?P<p>.*?))?\s*"
        r"ORDER\s+BY\s+(?P<o>.*)$",
        head,
        re.IGNORECASE | re.DOTALL,
    )
    if not pm or not pm.group("o").strip():
        return None  # frames require ORDER BY; anything else: leave
    part = (pm.group("p") or "").strip()
    order = pm.group("o").strip()
    k = 0 if fm.group("cur") else int(fm.group("k"))
    return end + close, part, order, k


#: window functions SAFE to evaluate over the reversed-order running
#: frame (order-insensitive aggregates; FIRST/LAST_VALUE swap roles
#: under reversal). Ranking functions ignore frames and never match.
_SUFFIX_REVERSIBLE_FNS = (
    "SUM", "COUNT", "AVG", "MIN", "MAX",
    "STDDEV_POP", "STDDEV_SAMP", "VAR_POP", "VAR_SAMP",
    "COVAR_POP", "COVAR_SAMP", "CORR",
    "REGR_SLOPE", "REGR_INTERCEPT", "REGR_R2", "REGR_SXX",
    "REGR_SYY", "REGR_SXY", "REGR_COUNT", "REGR_AVGX", "REGR_AVGY",
    "BIT_AND", "BIT_OR", "BIT_XOR",
    "FIRST_VALUE", "LAST_VALUE",
)

_SORT_ITEM_RE = re.compile(
    r"^(?P<e>.*?)(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<n>FIRST|LAST))?$",
    re.IGNORECASE | re.DOTALL,
)


def _reverse_order_by(order: str) -> str:
    """The exact mirror of an ORDER BY item list: flip each direction
    AND each (explicit or default) NULLS placement, emitted explicit.
    Spark and MariaDB share the defaults ASC=NULLS FIRST /
    DESC=NULLS LAST, so the mirrored sort reverses the row sequence
    row-for-row."""
    out = []
    for it in _split_top_level_commas(order):
        m = _SORT_ITEM_RE.match(it.strip())
        e = m.group("e").strip()
        d = (m.group("dir") or "ASC").upper()
        n = (m.group("n") or ("FIRST" if d == "ASC" else "LAST")).upper()
        rd = "DESC" if d == "ASC" else "ASC"
        rn = "LAST" if n == "FIRST" else "FIRST"
        out.append(f"{e} {rd} NULLS {rn}")
    return ", ".join(out)


def _rewrite_suffix_frames(masked: str, store: list[str]) -> str:
    """Aggregates over a suffix ROWS frame ([k PRECEDING | CURRENT
    ROW] .. UNBOUNDED FOLLOWING) → the SAME aggregate over the
    REVERSED-order running frame:

        f(x) OVER (PARTITION BY p ORDER BY o ASC
                   ROWS BETWEEN k PRECEDING AND UNBOUNDED FOLLOWING)
      ≡ f(x) OVER (PARTITION BY p ORDER BY o DESC NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND k FOLLOWING)

    — row-for-row the identical frame CONTENT (the mirror maps ASC
    position i to DESC position n-1-i, so [i-k, n-1] maps to
    [0, (n-1-i)+k]). Spark's UnboundedFollowing frame processor
    re-aggregates the whole frame per row — O(n^2) per partition,
    measured 60.8 s for ONE 15k-row statement — while the
    UnboundedPreceding processor ADDS rows incrementally up to the
    following bound: O(n), native Welford accuracy, bit-comparable
    with engines that evaluate the suffix frame directly (measured:
    30k-row suffix SUM 17.8 s native → 0.7-1.8 s reversed). This
    replaced the r8/r9 total−prefix+slide and Chan-moment lowerings,
    whose subtraction noise (~eps·|partition moment|) flipped
    4-decimal roundings of VAR_POP on 1e11-scale moments
    (mcs6177-6214 batteries; probe DIFFs).

    Only order-insensitive aggregates are rewritten; FIRST_VALUE and
    LAST_VALUE swap names under the mirror (DESC-first == ASC-last).
    NTH_VALUE(x, n) has no mirrored spelling (nth-from-START), but the
    suffix frame's start is the fixed ASC position max(0, i-k), so the
    read splits into two O(n) constant-offset forms (r10, reference
    utils/windowfunction/wf_nth_value.cpp:273):

        i >= k  →  LEAD(x, n-1-k)   (LAG when k > n-1)
        i <  k  →  NTH_VALUE(x, n) over the WHOLE partition
                   (Spark's unbounded-both frame evaluates once per
                   partition — O(n), not the O(n^2) per-row processor)

    Frames whose current row's position among ORDER-BY TIES
    differs between the two sort directions can legitimately read
    different (tie-permuted) frame contents — the reference has the
    same indeterminacy across its own sort implementations
    (idborderby.cpp comparator chains); the MTR batteries carry
    tie-breaking key columns."""
    pat = re.compile(
        r"\b(" + "|".join(_SUFFIX_REVERSIBLE_FNS + ("NTH_VALUE",))
        + r")\s*\(",
        re.IGNORECASE,
    )
    swap = {"FIRST_VALUE": "LAST_VALUE", "LAST_VALUE": "FIRST_VALUE"}
    out, i = [], 0
    while True:
        m = pat.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        fn = m.group(1).upper()
        open_at = masked.index("(", m.start())
        end = _find_balanced(masked, open_at)
        parsed = _parse_suffix_over(masked, end)
        out.append(masked[i : m.start()])
        if not parsed:
            out.append(masked[m.start() : open_at + 1])
            i = open_at + 1
            continue
        new_end, part, order, k = parsed
        args = masked[open_at + 1 : end - 1]
        p = f"PARTITION BY {part} " if part else ""
        if fn == "NTH_VALUE":
            nth_args = _split_top_level_commas(args)
            if len(nth_args) != 2 or not re.fullmatch(
                    r"[1-9]\d*", nth_args[1].strip()):
                # non-literal or non-positive n: no constant-offset
                # spelling — native path (MariaDB rejects n=0 as an
                # error; lowering it would silently return LAG(x,k+1))
                out.append(masked[m.start() : open_at + 1])
                i = open_at + 1
                continue
            x = nth_args[0].strip()
            n = int(nth_args[1])
            over_o = f"{p}ORDER BY {order}"
            d = n - 1 - k
            shift = (
                f"LEAD({x}, {d})" if d >= 0 else f"LAG({x}, {-d})"
            ) + f" OVER ({over_o})"
            if k == 0:
                out.append(shift)
            else:
                whole = (
                    f"NTH_VALUE({x}, {n}) OVER ({over_o} "
                    f"ROWS BETWEEN UNBOUNDED PRECEDING AND "
                    f"UNBOUNDED FOLLOWING)"
                )
                out.append(
                    f"(CASE WHEN ROW_NUMBER() OVER ({over_o}) > {k} "
                    f"THEN {shift} ELSE {whole} END)"
                )
            i = new_end
            continue
        bound = "CURRENT ROW" if k == 0 else f"{k} FOLLOWING"
        spec = (
            f"{p}ORDER BY {_reverse_order_by(order)} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND {bound}"
        )
        out.append(f"{swap.get(fn, m.group(1))}({args}) OVER ({spec})")
        i = new_end
    return "".join(out)


_AGG_FNS = (
    "SUM|COUNT|AVG|MIN|MAX|GROUP_CONCAT|STDDEV|STDDEV_POP|STDDEV_SAMP"
    "|VARIANCE|VAR_POP|VAR_SAMP|BIT_AND|BIT_OR|BIT_XOR|ANY_VALUE"
    "|FIRST|LAST|COLLECT_LIST|COLLECT_SET|JSON_ARRAYAGG|JSON_OBJECTAGG"
    "|PERCENTILE|PERCENTILE_APPROX|APPROX_COUNT_DISTINCT|CORR"
    "|COVAR_POP|COVAR_SAMP|REGR_[A-Z0-9]+|MEDIAN"
)


def loose_group_by_rewrite(sql: str, error_msg: str) -> str | None:
    """MariaDB's default sql_mode omits ONLY_FULL_GROUP_BY: a grouped
    query may select / order by non-grouped columns and gets SOME value
    from each group (MCOL-5772-hidden-order-by.test exercises exactly
    this). Spark's analyzer refuses with MISSING_AGGREGATION — which
    names the offending expression precisely, so instead of re-parsing
    SQL we do an error-driven repair: wrap that expression in
    ``any_value(...)`` (Spark's some-value-per-group aggregate — the
    same contract) wherever it appears OUTSIDE aggregate calls in the
    SELECT list and ORDER BY clause, and let the caller retry. GROUP
    BY / WHERE / HAVING text is never touched (an occurrence inside a
    grouping expression must keep its meaning). Returns the rewritten
    statement, or None when this error is not repairable this way."""
    order_by_only = False
    m = re.search(r'non-aggregating expression "([^"]+)"', error_msg)
    if not m:
        # second loose-mode shape: a HIDDEN ORDER BY column
        # (MCOL-5772's exact query) — after aggregation Spark can't
        # resolve a non-grouped input column in the sort; MariaDB
        # orders by some value from each group. Repair only the ORDER
        # BY region (an unresolved name in the select list is a
        # genuine error).
        m = re.search(
            r"with name `([^`]+)` cannot be resolved", error_msg
        )
        if not m or "UNRESOLVED_COLUMN" not in error_msg:
            return None
        order_by_only = True
    target = m.group(1)
    masked, store = _mask(sql)
    if not _top_level_search(r"\bGROUP\s+BY\b", masked):
        return None

    # rewrite region: SELECT-list (SELECT .. top-level FROM) for
    # MISSING_AGGREGATION — the wrap is aliased back to the bare name,
    # so a same-named ORDER BY item resolves against the alias and
    # must NOT be wrapped too (a sort over a fresh any_value() of an
    # aggregated-away column is circular). ORDER BY gets its own
    # repair pass when a HIDDEN column (never selected) fails to
    # resolve there.
    regions = []
    if not order_by_only:
        sm = re.search(
            r"\bSELECT\b(\s+DISTINCT\b)?", masked, re.IGNORECASE
        )
        fm = _top_level_search(r"\bFROM\b", masked)
        if sm and fm and sm.end() < fm.start():
            regions.append((sm.end(), fm.start()))
    else:
        om = _top_level_search(r"\bORDER\s+BY\b", masked)
        if om:
            # LIMIT must follow the ORDER BY clause — search only the
            # tail so a LIMIT spelled earlier never truncates the
            # repair region. NOTE: the any_value() wrap matches
            # MariaDB's loose-mode contract (some value per group) and
            # is deterministic only when the hidden column is
            # functionally dependent on the group key — the same
            # assumption MariaDB's own result makes.
            lm = _top_level_search(r"\bLIMIT\b", masked[om.end():])
            regions.append(
                (om.end(),
                 om.end() + lm.start() if lm else len(masked))
            )

    # spans inside aggregate calls are off-limits (SUM(x) must not
    # become SUM(any_value(x)))
    agg_spans = []
    for am in re.finditer(
        rf"\b(?:{_AGG_FNS})\s*\(", masked, re.IGNORECASE
    ):
        open_at = masked.index("(", am.end() - 1)
        try:
            close = _find_balanced(masked, open_at)
        except Exception:  # noqa: BLE001 — unbalanced → skip span
            continue
        agg_spans.append((open_at, close))

    pat = re.compile(
        r"(?<![\w`.])" + re.escape(target) + r"(?![\w`(])"
    )
    # keep MariaDB's display name: a bare identifier in the select
    # list stays visible under its own name (alias = last segment)
    simple = re.fullmatch(r"[\w.]+", target)
    select_region = regions[0] if not order_by_only and regions else None
    out, changed = [], False
    last = 0
    for mo in pat.finditer(masked):
        s, e = mo.span()
        in_region = any(a <= s and e <= b for a, b in regions)
        in_agg = any(a < s and e <= b for a, b in agg_spans)
        if in_region and not in_agg:
            out.append(masked[last:s])
            in_select = (
                select_region is not None
                and select_region[0] <= s
                and e <= select_region[1]
            )
            # don't alias when the occurrence is part of a larger
            # expression (next token isn't a list separator / FROM)
            tail = masked[e:].lstrip()
            standalone = tail[:1] in (",", "") or bool(
                re.match(r"FROM\b", tail, re.IGNORECASE)
            )
            if in_select and simple and standalone:
                name = target.rsplit(".", 1)[-1]
                out.append(f"any_value({target}) AS `{name}`")
            else:
                out.append(f"any_value({target})")
            last = e
            changed = True
    out.append(masked[last:])
    if not changed:
        return None
    return _unmask("".join(out), store)


def _top_binary_split(expr: str) -> tuple[str, str, str] | None:
    """Split the analyzer's rendering of a binary node (``x OP y``,
    single spaces, sub-expressions parenthesized) at its top-level
    operator — a greedy regex would split inside a parenthesized
    operand."""
    ops = (
        "<=>", "!=", "<>", "<=", ">=", "=", "<", ">",
        "+", "-", "*", "/", "%", "DIV", "AND", "OR",
    )
    depth = 0
    for i, c in enumerate(expr):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and c == " ":
            for op in ops:
                j = i + 1 + len(op)
                if (
                    expr[i + 1 : j].upper() == op
                    and expr[j : j + 1] == " "
                ):
                    return expr[:i], expr[i + 1 : j], expr[j + 1 :]
    return None


def _flex_expr_pattern(expr: str) -> str:
    """Regex matching the analyzer's rendering of ``expr`` in the
    original SQL text, tolerant of whitespace, backticks, and table
    qualifiers (the analyzer strips ``alias.`` prefixes and
    normalizes spacing). Callers that rewrite should wrap the
    MATCHED span, not the rendering, so qualifiers survive."""
    toks = re.findall(r"\w+|[^\w\s]", expr)
    parts = []
    prev = None
    for t in toks:
        if re.fullmatch(r"\w+", t):
            qual = "" if prev == "." else r"(?:[\w$]+\s*\.\s*)?"
            parts.append(qual + r"`?" + re.escape(t) + r"`?")
        else:
            parts.append(re.escape(t))
        prev = t
    return r"\s*".join(parts)


def _numeric_truthiness_repair(sql: str, error_msg: str) -> str | None:
    """MariaDB boolean context: any numeric is a valid condition
    (true iff non-NULL and <> 0) — ``WHERE n_regionkey``,
    ``NOT n_regionkey``, ``n AND m`` all legal
    (devregression mcs7031/mcs7116/mcs7173 shapes). Spark's analyzer
    requires BOOLEAN and names the offending expression; repair it to
    the explicit ``<> 0`` spelling and let the caller retry."""
    masked, store = _mask(sql)

    # WHERE/HAVING <numeric>: wrap the whole clause predicate
    m = re.search(
        r'Filter expression "([^"]+)" of type', error_msg
    )
    if m and "FILTER_NOT_BOOLEAN" in error_msg:
        # the analyzer quotes the offending filter expression — wrap
        # only the clause that actually contains it, not just the
        # first WHERE found (a boolean WHERE + numeric HAVING would
        # otherwise get the wrong clause wrapped and the retry loop
        # would churn)
        flagged = re.sub(r"[\s`'\"()]+", "", m.group(1)).upper()
        candidates = []
        for kw in (r"\bWHERE\b", r"\bHAVING\b"):
            km = _top_level_search(kw, masked)
            if not km:
                continue
            end_m = _top_level_search(
                r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION"
                r"|INTERSECT|EXCEPT)\b",
                masked[km.end():],
            )
            end = km.end() + (end_m.start() if end_m else
                              len(masked) - km.end())
            pred = masked[km.end():end].strip()
            if pred:
                candidates.append((kw, km, end, pred))
        if not candidates:
            return None
        pick = None
        if len(candidates) > 1 and flagged:
            for cand in candidates:
                norm = re.sub(
                    r"[\s`'\"()]+", "",
                    _unmask(cand[3], store),
                ).upper()
                if flagged in norm or norm in flagged:
                    pick = cand
                    break
            if pick is None and _top_level_search(
                r"\bGROUP\s+BY\b", masked
            ):
                # aggregate truthiness lands in HAVING by default
                pick = candidates[-1]
        if pick is None:
            pick = candidates[0]
        _, km, end, pred = pick
        fixed = (
            masked[: km.end()]
            + f" (({pred}) <> 0) "
            + masked[end:]
        )
        return _unmask(fixed, store)

    # NOT <numeric>
    m = re.search(
        r'Cannot resolve "\(NOT (.+?)\)" due to data type mismatch',
        error_msg,
    )
    if m and "UNEXPECTED_INPUT_TYPE" in error_msg:
        x = m.group(1)
        # the paren, when present, must CLOSE right after the operand —
        # `NOT (x BETWEEN 1 AND 3)` must not match its opening paren
        # (round-7 probe finding: the old optional-paren form consumed
        # the outer expression's paren and corrupted the statement)
        pat = re.compile(
            r"\bNOT\s+(?:\(\s*" + re.escape(x) + r"\s*\)"
            r"|" + re.escape(x) + r"(?![\w`(]))",
            re.IGNORECASE,
        )
        fixed, n = pat.subn(f"NOT (({x}) <> 0)", masked)
        if n:
            return _unmask(fixed, store)
        return None

    # <numeric> AND/OR <expr> — the message names the non-boolean
    # operand; fix it wherever it sits adjacent to AND/OR
    if "BINARY_OP_WRONG_TYPE" in error_msg:
        m = re.search(
            r'however "([^"]+)" has the type "(?:INT|BIGINT|SMALLINT'
            r'|TINYINT|DOUBLE|FLOAT|DECIMAL[^"]*)"',
            error_msg,
        )
        if m:
            x = re.escape(m.group(1))
            fixed = re.sub(
                r"(?<![\w`.])(" + x + r")(\s+)(AND|OR)\b",
                r"(\1 <> 0)\2\3",
                masked,
                flags=re.IGNORECASE,
            )
            fixed = re.sub(
                r"\b(AND|OR)(\s+)(" + x + r")(?![\w`.(])",
                r"\1\2(\3 <> 0)",
                fixed,
                flags=re.IGNORECASE,
            )
            if fixed != masked:
                return _unmask(fixed, store)
            return None
        # BOTH operands numeric (`n AND m` — mcs7173's exact shape):
        # the analyzer quotes the whole conjunct; wrap each side
        m = re.search(
            r'Cannot resolve "\((.+)\)" due to data '
            r'type mismatch: the binary operator requires the input '
            r'type "BOOLEAN"',
            error_msg,
        )
        if m:
            split = _top_binary_split(m.group(1))
            if split and split[1].upper() in ("AND", "OR"):
                x, op, y = split
                pat = re.compile(
                    "(" + _flex_expr_pattern(x) + ")"
                    + r"(\s+)" + op + r"(\s+)"
                    + "(" + _flex_expr_pattern(y) + ")",
                    re.IGNORECASE,
                )
                # wrap the MATCHED spans (qualified spellings survive)
                fixed, n = pat.subn(
                    rf"((\1) <> 0)\g<2>{op}\g<3>((\4) <> 0)",
                    masked,
                )
                if n:
                    return _unmask(fixed, store)
        return None

    # CASE branches mixing numeric and boolean (mcs7108's
    # `THEN r_regionkey ELSE r_regionkey > 2`): MariaDB's boolean IS
    # 0/1 — cast each comparison-shaped branch to INT. Flat CASE
    # renderings only (a nested CASE quotes its own error first).
    if "DATA_DIFF_TYPES" in error_msg and '"CASE WHEN' in error_msg:
        m = re.search(
            r'Cannot resolve "CASE WHEN (.+) END" due to data type '
            r'mismatch.*\["?[A-Z]',
            error_msg,
        )
        if m and "BOOLEAN" in error_msg:
            rendering = m.group(1)
            branches = re.findall(
                r"(?:THEN|ELSE)\s+(.+?)(?=\s+WHEN\s|\s+ELSE\s|$)",
                rendering,
            )
            fixed, total = masked, 0
            for br in branches:
                inner = br[1:-1] if (
                    br.startswith("(") and br.endswith(")")
                ) else br
                split = _top_binary_split(inner)
                if not split or split[1].upper() not in (
                    "=", "<>", "!=", "<", ">", "<=", ">=", "<=>",
                ):
                    continue
                pat = re.compile(
                    _flex_expr_pattern(inner), re.IGNORECASE
                )
                fixed, n = pat.subn(
                    lambda mo: f"CAST(({mo.group(0)}) AS INT)",
                    fixed,
                    count=1,
                )
                total += n
            if total:
                return _unmask(fixed, store)
        return None

    # numeric <op> boolean (`n * (flag > 0)`, `(a = 1) = 0` —
    # mcs7010/mcs7126 shapes): MariaDB treats boolean as 0/1 — cast
    # the boolean operand to INT and retry
    if "BINARY_OP_DIFF_TYPES" in error_msg:
        m = re.search(
            r'Cannot resolve "\((.+)\)" due to data type mismatch: '
            r'the left and right operands of the binary operator have'
            r' incompatible types \("([A-Z()0-9,]+)" and '
            r'"([A-Z()0-9,]+)"\)',
            error_msg,
        )
        if m:
            split = _top_binary_split(m.group(1))
            tl, tr = m.group(2), m.group(3)
            if not split:
                return None
            x, _op, y = split
            if tl == "BOOLEAN" and tr != "BOOLEAN":
                bool_side = x
            elif tr == "BOOLEAN" and tl != "BOOLEAN":
                bool_side = y
            else:
                return None
            pat = re.compile(
                _flex_expr_pattern(bool_side), re.IGNORECASE
            )
            fixed, n = pat.subn(
                lambda mo: f"CAST(({mo.group(0)}) AS INT)",
                masked,
                count=1,
            )
            if n:
                return _unmask(fixed, store)
        return None
    return None


def analysis_repair(sql: str, error_msg: str) -> str | None:
    """Error-driven MariaDB-semantics repairs for statements Spark's
    analyzer refuses: loose GROUP BY (any_value) and numeric
    truthiness (<> 0). Returns a rewritten statement to retry, or
    None when the error is not one of these shapes."""
    fixed = loose_group_by_rewrite(sql, error_msg)
    if fixed is not None:
        return fixed
    return _numeric_truthiness_repair(sql, error_msg)


_DIV_TOKEN = re.compile(r"[\w`$\x00.]")
_INT_DIV_RE = re.compile(r"\bDIV\b", re.IGNORECASE)

#: words that may directly precede a parenthesized expression without
#: being a callable name (operand extraction must not absorb them)
_DIV_KEYWORDS = frozenset(
    """SELECT WHERE THEN ELSE WHEN AND OR NOT FROM BY ON IN AS CASE
    END HAVING RETURN SET VALUES LIKE BETWEEN IS DISTINCT ALL ANY
    SOME UNION EXCEPT INTERSECT JOIN USING OVER PARTITION
    ORDER GROUP LIMIT OFFSET ASC DESC INTERVAL ESCAPE""".split()
)


def _operand_left(masked: str, pos: int) -> int:
    """Start index of the left operand of a binary / or % at ``pos``.
    Absorbs the whole same-precedence (*,/,%,DIV) chain to the left so
    MariaDB's left-to-right grouping is preserved:
    ``a * b / c`` → try_divide(a * b, c)."""
    i = pos

    def skip_ws(j):
        while j > 0 and masked[j - 1].isspace():
            j -= 1
        return j

    def balanced_back(j):
        depth = 0
        k = j - 1
        while k >= 0:
            if masked[k] == ")":
                depth += 1
            elif masked[k] == "(":
                depth -= 1
                if depth == 0:
                    return k
            k -= 1
        return j  # unbalanced: give up conservatively

    def word_before(j):
        j2 = skip_ws(j)
        k = j2
        while k > 0 and _DIV_TOKEN.match(masked[k - 1]):
            k -= 1
        return k, masked[k:j2]

    def one_primary(j):
        j = skip_ws(j)
        if j > 0 and masked[j - 1] == ")":
            k = balanced_back(j)
            # function call: absorb the name (but never a keyword — a
            # parenthesized expression after SELECT/WHERE/THEN/... is
            # not a call); a window spec absorbs OVER and then the
            # aggregate call before it
            k2, word = word_before(k)
            if word.upper() == "OVER":
                # window spec: fn(...) OVER (...) is one primary —
                # absorb OVER and the aggregate call before it
                k3 = skip_ws(k2)
                if k3 > 0 and masked[k3 - 1] == ")":
                    k4 = balanced_back(k3)
                    k5, w2 = word_before(k4)
                    return k5 if w2 else k4
                return k2
            if word.upper() in _DIV_KEYWORDS:
                return k
            return k2 if word else k
        k = j
        while k > 0 and _DIV_TOKEN.match(masked[k - 1]):
            k -= 1
        tok = masked[k:j]
        # CASE … END is one primary: balance nested CASE/END pairs
        if tok.upper() == "END":
            depth, p = 1, k
            pat = re.compile(r"\b(CASE|END)\b", re.IGNORECASE)
            while depth and p > 0:
                matches = [
                    mm for mm in pat.finditer(masked, 0, p)
                ]
                if not matches:
                    return k  # unbalanced: give up
                mm = matches[-1]
                depth += 1 if mm.group(1).upper() == "END" else -1
                p = mm.start()
            return p
        # named-window spec: fn(...) OVER w is one primary
        _, prevw = word_before(k)
        if prevw.upper() == "OVER":
            k2, _ = word_before(k)
            k3 = skip_ws(k2)
            if k3 > 0 and masked[k3 - 1] == ")":
                k4 = balanced_back(k3)
                k5, w2 = word_before(k4)
                return k5 if w2 else k4
        return k

    i = one_primary(i)
    while True:
        j = skip_ws(i)
        # unary minus bound to the operand (e.g. a / -b chains)
        if j > 0 and masked[j - 1] in "+-":
            k = skip_ws(j - 1)
            if k > 0 and (
                _DIV_TOKEN.match(masked[k - 1]) or masked[k - 1] == ")"
            ):
                pass  # binary +/-: stop the chain
            else:
                i = j - 1
                j = skip_ws(i)
        took = False
        if j > 0 and masked[j - 1] in "*/%":
            i = one_primary(j - 1)
            took = True
        elif j >= 3 and re.search(
            r"\bDIV$", masked[:j], re.IGNORECASE
        ):
            i = one_primary(j - 3)
            took = True
        if not took:
            return i


def _operand_right(masked: str, pos: int) -> int:
    """End index (exclusive) of the right operand of / or % at
    ``pos`` — one primary only (division groups left). A trailing
    OVER (...) window spec stays attached to its aggregate; CASE…END
    is one primary."""
    n = len(masked)

    def skip_ws(j):
        while j < n and masked[j].isspace():
            j += 1
        return j

    def word_at(j):
        k = j
        while k < n and _DIV_TOKEN.match(masked[k]):
            k += 1
        return k, masked[j:k]

    j = skip_ws(pos)
    if j < n and masked[j] in "+-":  # unary sign
        j = skip_ws(j + 1)
    k, tok = word_at(j)
    if tok.upper() == "CASE":
        depth, p = 1, k
        pat = re.compile(r"\b(CASE|END)\b", re.IGNORECASE)
        while depth:
            mm = pat.search(masked, p)
            if not mm:
                return k  # unbalanced: give up
            depth += 1 if mm.group(1).upper() == "CASE" else -1
            p = mm.end()
        return p
    m = skip_ws(k)
    end = k
    if m < n and masked[m] == "(" and (k > j or m == j):
        end = _find_balanced(masked, m)
        # fn( … ) OVER ( … | name ) — window spec binds to the call
        m2 = skip_ws(end)
        k2, w = word_at(m2)
        if w.upper() == "OVER":
            m3 = skip_ws(k2)
            if m3 < n and masked[m3] == "(":
                return _find_balanced(masked, m3)
            k3, w3 = word_at(m3)
            if w3:
                return k3
    return end


def _boolean_looking(expr: str) -> bool:
    """True when ``expr`` contains a TOP-LEVEL comparison / boolean
    operator — i.e. Spark will type it BOOLEAN where MariaDB treats it
    as an int 0/1 (Item_bool_func heritage). Paren-nested operators
    don't count: ``round(a > b)`` is the function's problem."""
    depth = 0
    i, n = 0, len(expr)
    while i < n:
        c = expr[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            if c in "=<>!":
                return True
            if c.isalpha() or c == "_":
                wm = re.match(r"\w+", expr[i:])
                if wm.group(0).upper() in (
                    "IS", "LIKE", "RLIKE", "REGEXP", "IN", "BETWEEN",
                    "AND", "OR", "NOT", "EXISTS", "XOR",
                ):
                    return True
                i += wm.end()
                continue
        i += 1
    return False


def _is_string_literal(expr: str, store: list[str]) -> bool:
    phm = _PH_RE.fullmatch(expr.strip())
    return bool(phm) and store[int(phm.group(1))][:1] in ("'", '"')


_COLUMN_REF_RE = re.compile(
    r"(?:[A-Za-z_]\w*\s*\.\s*)?([A-Za-z_]\w*)", re.ASCII
)


def _is_string_column(expr: str, string_columns: frozenset[str]) -> bool:
    m = _COLUMN_REF_RE.fullmatch(expr.strip())
    return bool(m) and m.group(1).lower() in string_columns


_CASE_TOKEN_RE = re.compile(r"\b(CASE|WHEN|THEN|ELSE|END)\b", re.IGNORECASE)


def _parse_case(masked: str, start: int):
    """Parse the CASE whose keyword starts at ``start``. Returns
    ``(marks, end)`` — marks are (TOKEN, tok_start, tok_end) for this
    CASE's own WHEN/THEN/ELSE at paren depth 0 and CASE-nesting level
    0, plus a final ("END", pos, pos_end); ``end`` is the index just
    past END. (None, None) on malformed input."""
    i = start + 4
    depth = level = 0
    marks = []
    n = len(masked)
    while i < n:
        c = masked[i]
        if c == "(":
            depth += 1
            i += 1
            continue
        if c == ")":
            depth -= 1
            i += 1
            continue
        if depth == 0 and (c.isalpha() or c == "_"):
            m = _CASE_TOKEN_RE.match(masked, i)
            if m:
                t = m.group(1).upper()
                if t == "CASE":
                    level += 1
                elif t == "END":
                    if level == 0:
                        marks.append(("END", m.start(), m.end()))
                        return marks, m.end()
                    level -= 1
                elif level == 0:
                    marks.append((t, m.start(), m.end()))
                i = m.end()
                continue
            wm = re.match(r"\w+", masked[i:])
            i += wm.end()
            continue
        i += 1
    return None, None


def _coerce_mixed_branches(
    branches: list[str], store: list[str],
    string_columns: frozenset[str],
) -> list[str] | None:
    """MariaDB result-type aggregation for CASE/IF branch lists that
    mix a definitely-string branch with non-string branches
    (Item_func_case::fix_length_and_dec aggregates to VARCHAR and
    renders numbers as their string form; Spark's ANSI coercion casts
    the STRING side to the numeric type instead and throws
    CAST_INVALID_INPUT at runtime — mcs7069/mcs7108). Boolean-typed
    branches render through INT first ('1'/'0', not 'true'). Returns
    the rewritten list, or None when no coercion applies."""
    def is_str(b: str) -> bool:
        return _is_string_literal(b, store) or _is_string_column(
            b, string_columns
        )

    def is_null(b: str) -> bool:
        return b.strip().upper() == "NULL"

    if not any(is_str(b) for b in branches):
        return None
    if all(is_str(b) or is_null(b) for b in branches):
        return None
    out = []
    for b in branches:
        if is_str(b) or is_null(b):
            out.append(b)
        elif _boolean_looking(b):
            out.append(f"CAST(CAST(({b}) AS INT) AS STRING)")
        else:
            out.append(f"CAST(({b}) AS STRING)")
    return out


def _rewrite_case_coercions(
    masked: str, store: list[str], string_columns: frozenset[str]
) -> str:
    """Two MariaDB coercions inside CASE/IF that Spark's ANSI typing
    rejects or mis-casts (mcs7108_regression_bug3671, mcs7069):

    - a SIMPLE-case subject or WHEN operand that is a boolean
      expression compares as int 0/1 in MariaDB → wrap CAST(.. AS INT)
      (searched-CASE WHEN conditions stay boolean, untouched);
    - THEN/ELSE (or IF value) lists mixing definitely-string branches
      with non-string ones aggregate to VARCHAR in MariaDB → see
      _coerce_mixed_branches.

    Processes each CASE innermost-last via recursion on its segment
    texts; emitted text is never rescanned."""
    # IF(cond, a, b): apply the branch aggregation to the two values
    pat_if = re.compile(r"\bIF\s*\(", re.IGNORECASE)
    out, i = [], 0
    while True:
        m = pat_if.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        open_at = masked.index("(", m.start())
        end = _find_balanced(masked, open_at)
        args = _split_top_level_commas(masked[open_at + 1 : end - 1])
        out.append(masked[i : m.start()])
        if len(args) != 3:
            out.append(masked[m.start() : open_at + 1])
            i = open_at + 1
            continue
        orig = [a.strip() for a in args]
        args = [
            _rewrite_case_coercions(a, store, string_columns)
            for a in orig
        ]
        coerced = _coerce_mixed_branches(
            args[1:], store, string_columns
        )
        if coerced:
            args[1:] = coerced
        if args == orig:  # nothing fired — keep the original text
            out.append(masked[m.start() : end])
        else:
            out.append(f"IF({args[0]}, {args[1]}, {args[2]})")
        i = end
    masked = "".join(out)

    pat_case = re.compile(r"\bCASE\b", re.IGNORECASE)
    out, i = [], 0
    while True:
        m = pat_case.search(masked, i)
        if not m:
            out.append(masked[i:])
            break
        marks, end = _parse_case(masked, m.start())
        out.append(masked[i : m.start()])
        if not marks or marks[0][0] not in ("WHEN", "END"):
            # malformed or bare CASE END — leave the keyword, move on
            out.append(masked[m.start() : m.end()])
            i = m.end()
            continue
        # segment spans between this CASE's own marks
        segs = []  # (kind, text)
        prev_kind, prev_end = "CASE", m.end()
        for kind, tstart, tend in marks:
            segs.append((prev_kind, masked[prev_end:tstart]))
            prev_kind, prev_end = kind, tend
        # segs[k] = text FOLLOWING the keyword segs[k][0]
        subject = segs[0][1].strip() if segs[0][0] == "CASE" else ""
        simple = bool(subject)
        rebuilt = ["CASE"]
        parts = []
        orig_parts = []
        for kind, text in segs:
            orig = text.strip()
            orig_parts.append((kind, orig))
            text = _rewrite_case_coercions(orig, store, string_columns)
            if kind in ("CASE", "WHEN") and simple and _boolean_looking(
                text
            ):
                text = f"CAST(({text}) AS INT)"
            parts.append((kind, text))
        branch_vals = [
            t for k, t in parts if k in ("THEN", "ELSE")
        ]
        coerced = _coerce_mixed_branches(
            branch_vals, store, string_columns
        )
        if coerced:
            it = iter(coerced)
            parts = [
                (k, next(it)) if k in ("THEN", "ELSE") else (k, t)
                for k, t in parts
            ]
        if parts == orig_parts:  # nothing fired — keep original text
            out.append(masked[m.start() : end])
            i = end
            continue
        for kind, text in parts:
            if kind == "CASE":
                if text:
                    rebuilt.append(text)
            else:
                rebuilt.append(kind)
                if text:
                    rebuilt.append(text)
        rebuilt.append("END")
        out.append(" ".join(rebuilt))
        i = end
    return "".join(out)


#: numeric-only functions whose listed 0-based args take MariaDB's
#: loose my_strtod prefix read when handed a string (func_math.cpp
#: operand coercion; mcs7005 round(r_name, 2))
_LOOSE_NUM_ARG_FNS: dict[str, tuple[int, ...]] = {
    "ROUND": (0,), "TRUNCATE": (0,), "ABS": (0,), "CEIL": (0,),
    "CEILING": (0,), "FLOOR": (0,), "SIGN": (0,), "SQRT": (0,),
    "EXP": (0,), "LN": (0,), "LOG2": (0,), "LOG10": (0,),
    "SIN": (0,), "COS": (0,), "TAN": (0,), "COT": (0,),
    "ASIN": (0,), "ACOS": (0,), "ATAN": (0, 1), "DEGREES": (0,),
    "RADIANS": (0,), "POW": (0, 1), "POWER": (0, 1), "MOD": (0, 1),
    "LOG": (0, 1),
    # FORMAT's value arg takes the same loose read (Item_func_format;
    # mcs7088 format(cast(sum(..) as char), 0))
    "FORMAT": (0,),
}

#: an expression that is string-typed by construction: a CAST/CONVERT
#: to a character type, or CONCAT/CONCAT_WS (always string in MariaDB)
_STRINGISH_EXPR_RE = re.compile(
    r"^\s*(?:CAST\s*\(.*\bAS\s+(?:N?CHAR|N?VARCHAR|STRING|TEXT)\b"
    r"|CONVERT\s*\(.*,\s*(?:N?CHAR|N?VARCHAR|STRING|TEXT)\b"
    r"|CONVERT\s*\(.*\bUSING\b\s+\w+\s*\)"
    r"|CONCAT(?:_WS)?\s*\()",
    re.IGNORECASE | re.DOTALL,
)


_LOOSE_NUM_ARG_RE = re.compile(
    r"\b(" + "|".join(_LOOSE_NUM_ARG_FNS) + r")\s*\(", re.IGNORECASE
)


def _loose_double_read(x: str, store: list[str]) -> str:
    """String expression → DOUBLE via the my_strtod leading-prefix
    parse: NULL stays NULL, no numeric prefix reads 0."""
    ph = _PH.format(len(store))
    store.append(_NUM_PREFIX_RX)
    return (
        f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS DOUBLE) ELSE "
        f"coalesce(try_cast(regexp_extract(CAST(({x}) AS STRING), "
        f"{ph}, 0) AS DOUBLE), 0d) END)"
    )


def _rewrite_loose_string_args(
    masked: str, store: list[str], string_columns: frozenset[str]
) -> str:
    """Two schema-aware loose coercions (active only when the caller
    provides the catalog's string columns, as MariaDB's parser has):

    - a string literal or known string column as a numeric-only
      function arg parses its leading numeric prefix
      (``round(r_name, 2)`` → round(0, 2) for non-numeric names);
    - a known string column standing as a BARE boolean operand
      (``ON (t.name AND ...)``, mcs7031_regression_bug2932) reads as
      the prefix-parse ``<> 0`` truthiness instead of Spark's ANSI
      string→boolean runtime cast.
    """

    def lower(name: str, args: list[str], store: list[str]) -> str | None:
        loose = [
            k for k in _LOOSE_NUM_ARG_FNS[name]
            if k < len(args)
            and (
                _is_string_literal(args[k], store)
                or _is_string_column(args[k], string_columns)
                or _STRINGISH_EXPR_RE.match(args[k])
            )
        ]
        if not loose:
            return None
        args = [
            _loose_double_read(a, store) if k in loose else a
            for k, a in enumerate(args)
        ]
        return f"{name}({', '.join(args)})"

    masked = _scan_calls(
        masked, store, _LOOSE_NUM_ARG_RE,
        dict.fromkeys(_LOOSE_NUM_ARG_FNS, lower),
    )

    if not string_columns:
        return masked
    # bare string column as a boolean operand: previous meaningful
    # token opens a boolean context, next one closes it
    col_pat = re.compile(
        r"(?:[A-Za-z_]\w*\s*\.\s*)?[A-Za-z_]\w*", re.ASCII
    )
    bool_before = {"AND", "OR", "NOT", "WHEN", "WHERE", "HAVING"}
    bool_after = {
        "AND", "OR", "THEN", "ORDER", "GROUP", "LIMIT", "HAVING",
    }
    out, i = [], 0
    while i < len(masked):
        mm = col_pat.search(masked, i)
        if not mm:
            out.append(masked[i:])
            break
        ref = mm.group(0)
        tail = ref.rsplit(".", 1)[-1].strip()
        if tail.lower() not in string_columns:
            out.append(masked[i : mm.end()])
            i = mm.end()
            continue
        before = masked[:mm.start()].rstrip()
        pw = re.search(r"(\w+)\s*$", before)
        prev_ok = bool(pw and pw.group(1).upper() in bool_before)
        if not prev_ok and before.endswith("("):
            pw2 = re.search(r"(\w+)\s*\($", before)
            prev_ok = bool(
                pw2 and pw2.group(1).upper() in
                {"ON", "WHERE", "AND", "OR", "NOT", "WHEN"}
            )
        after = masked[mm.end():].lstrip()
        nw = re.match(r"\w+", after)
        next_ok = (
            after[:1] in (")", ";", "")
            or bool(nw and nw.group(0).upper() in bool_after)
        )
        if next_ok and after[:1] == ")":
            # peek past the closing paren(s): `AND (col) = x` is a
            # comparison operand, not a bare boolean (mcs7246 row-
            # constructor lowering wraps elements in parens)
            past = after.lstrip(") \t\n")
            pword = re.match(r"\w+", past)
            # NB: guard past[:1] non-empty — `"" in "=<>..."` is True,
            # which would wrongly suppress the rewrite for a bare
            # boolean in parens at the very end of a statement.
            if (past[:1] and past[:1] in "=<>!+-*/%|&^") or (
                pword and pword.group(0).upper() in {
                    "IS", "LIKE", "RLIKE", "REGEXP", "IN", "BETWEEN",
                    "SOUNDS", "COLLATE", "DIV", "MOD",
                }
            ):
                next_ok = False
        out.append(masked[i : mm.start()])
        if prev_ok and next_ok:
            ph = _PH.format(len(store))
            store.append(_NUM_PREFIX_RX)
            out.append(
                f"(CASE WHEN ({ref}) IS NULL THEN NULL ELSE "
                f"coalesce(try_cast(regexp_extract(({ref}), {ph}, 0)"
                f" AS DOUBLE), 0d) <> 0d END)"
            )
        else:
            out.append(ref)
        i = mm.end()
    return "".join(out)


def _rewrite_row_constructor_cmp(masked: str, store: list[str]) -> str:
    """``(a, b, ...) = (c, d, ...)`` / ``<>`` → element-wise form.

    MariaDB row comparisons (Item_row + Arg_comparator::compare_row,
    sql/item_cmpfunc.cc; reference MTR mcs7246_regression_bug3038)
    compare pairwise with per-element type coercion and NULL
    propagation: equality is the conjunction of element equalities,
    inequality its 3-valued NOT. Spark's struct comparison instead
    requires EXACT struct type equality (bigint column vs int literal
    fails analysis), so lower to the pairwise form, which coerces per
    element like MariaDB."""
    i = 0
    while True:
        j = masked.find("(", i)
        if j < 0:
            return masked
        # a '(' after a word is a function call — unless the word is a
        # clause/boolean keyword, where a row constructor can start
        k = j - 1
        while k >= 0 and masked[k].isspace():
            k -= 1
        if k >= 0 and (masked[k].isalnum() or masked[k] in "_\x00"):
            pw = re.search(r"(\w+)$", masked[: k + 1])
            if not (pw and pw.group(1).upper() in {
                "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN",
                "ELSE", "HAVING", "SELECT", "BY", "SET", "RETURN",
            }):
                i = j + 1
                continue
        try:
            end = _find_balanced(masked, j)
        except ValueError:
            return masked
        inner = masked[j + 1 : end - 1]
        parts = _split_top_level_commas(inner)
        if len(parts) < 2 or re.match(r"\s*SELECT\b", inner, re.I):
            i = j + 1
            continue
        m = re.match(r"\s*(=|<>|!=)\s*\(", masked[end:])
        if not m:
            i = j + 1
            continue
        r_open = end + m.end() - 1
        try:
            r_end = _find_balanced(masked, r_open)
        except ValueError:
            return masked
        rinner = masked[r_open + 1 : r_end - 1]
        rparts = _split_top_level_commas(rinner)
        if len(rparts) != len(parts) or re.match(
            r"\s*SELECT\b", rinner, re.I
        ):
            i = j + 1
            continue
        conj = " AND ".join(
            f"({a.strip()}) = ({b.strip()})"
            for a, b in zip(parts, rparts)
        )
        repl = f"({conj})" if m.group(1) == "=" else f"(NOT ({conj}))"
        masked = masked[:j] + repl + masked[r_end:]
        i = j + 1


#: window aggregates whose empty-frame value is NULL typed like their
#: argument (everything else numeric defaults to a DOUBLE NULL)
_ARG_TYPED_EMPTY = {
    "SUM", "MIN", "MAX", "FIRST_VALUE", "LAST_VALUE", "NTH_VALUE",
    "BIT_AND", "BIT_OR", "BIT_XOR",
}


def _rewrite_inverted_frames(masked: str, store: list[str]) -> str:
    """``ROWS BETWEEN a AND b`` with literal bounds where start > end
    is an EMPTY frame in MariaDB (frame cursor finds no rows —
    reference MTR mcs7178_regression_bug5345: ``20 FOLLOWING AND
    1 FOLLOWING`` / ``1 PRECEDING AND 20 PRECEDING`` yield NULL for
    every row, COUNT yields 0). Spark rejects such frames at analysis,
    so replace the whole windowed aggregate with its empty-frame
    value."""
    frame_re = re.compile(
        r"ROWS\s+BETWEEN\s+(\d+)\s+(PRECEDING|FOLLOWING)\s+AND\s+"
        r"(\d+)\s+(PRECEDING|FOLLOWING)",
        re.IGNORECASE,
    )
    over_re = re.compile(r"\bOVER\s*\(", re.IGNORECASE)
    while True:
        target = None
        for om in over_re.finditer(masked):
            spec_open = masked.index("(", om.start())
            spec_end = _find_balanced(masked, spec_open)
            fm = frame_re.search(masked[spec_open:spec_end])
            if not fm:
                continue
            lo = int(fm.group(1)) * (
                -1 if fm.group(2).upper() == "PRECEDING" else 1)
            hi = int(fm.group(3)) * (
                -1 if fm.group(4).upper() == "PRECEDING" else 1)
            if lo <= hi:
                continue
            target = (om, spec_end)
            break
        if target is None:
            return masked
        om, spec_end = target
        # capture fn(args) immediately before OVER
        k = om.start() - 1
        while k >= 0 and masked[k].isspace():
            k -= 1
        if k < 0 or masked[k] != ")":
            return masked  # non-call form; leave for Spark to report
        depth = 0
        fn_open = None
        for j in range(k, -1, -1):
            if masked[j] == ")":
                depth += 1
            elif masked[j] == "(":
                depth -= 1
                if depth == 0:
                    fn_open = j
                    break
        if fn_open is None:
            return masked
        wm = re.search(r"(\w+)\s*$", masked[:fn_open])
        if not wm:
            return masked
        fn = wm.group(1).upper()
        args = _split_top_level_commas(
            masked[fn_open + 1 : k])
        arg0 = args[0].strip() if args else ""
        if fn == "COUNT":
            repl = "CAST(0 AS BIGINT)"
        elif fn == "SUM" and arg0 and arg0 != "*":
            # MariaDB SUM widens its result (int → DECIMAL); an
            # arg-typed NULL would wire-compare as INT (ADVICE r9).
            # DOUBLE is the widening both canonicalizers flatten to.
            # Known boundary (ADVICE r10, adjudicated keep-as-is): for
            # DECIMAL args MariaDB's widening stays DECIMAL, so the
            # NULL's wire type diverges — value is always NULL and the
            # driver canonicalizer flattens it, so this never surfaces;
            # widen per arg type iff decimal wire parity ever matters.
            repl = (f"CAST((CASE WHEN 1=0 THEN ({arg0}) END)"
                    f" AS DOUBLE)")
        elif fn in _ARG_TYPED_EMPTY and arg0 and arg0 != "*":
            repl = f"(CASE WHEN 1=0 THEN ({arg0}) END)"
        else:
            repl = "CAST(NULL AS DOUBLE)"
        # the rewrite erases the `fn(...) OVER (...)` text MariaDB
        # would use as the output column name — restore it via an
        # alias when the expression is an UNALIASED select-list item
        # (ADVICE r9). Select-list detection: the nearest clause
        # keyword at this paren depth is SELECT; unaliased detection:
        # the next token is `,`, FROM, or end-of-select-list.
        expr_start = wm.start(1)
        depth_at = masked[:expr_start].count("(") - \
            masked[:expr_start].count(")")
        clause = None
        for cm in re.finditer(
                r"\b(SELECT|FROM|WHERE|GROUP\s+BY|HAVING|"
                r"ORDER\s+BY|RETURNING|PARTITION\s+BY)\b",
                masked[:expr_start], re.IGNORECASE):
            d = masked[:cm.start()].count("(") - \
                masked[:cm.start()].count(")")
            if d == depth_at:
                clause = cm.group(1).upper()
        nxt = masked[spec_end:].lstrip()
        if clause == "SELECT" and (
                nxt[:1] in (",", "", ")")
                or re.match(r"FROM\b", nxt, re.IGNORECASE)):
            name = _unmask(
                masked[expr_start:spec_end], store
            ).strip().replace("`", "")
            ph = _PH.format(len(store))
            store.append(f"`{name}`")
            repl += f" AS {ph}"
        masked = masked[: wm.start(1)] + repl + masked[spec_end:]


#: tokens that DELIMIT an XOR operand (lower-or-equal precedence than
#: XOR, or clause context). AND / NOT bind TIGHTER than XOR in MariaDB
#: (item precedence: ... NOT > AND > XOR > OR), so AND-chains stay
#: INSIDE the captured operands.
_XOR_LEFT_STOP = {
    "SELECT", "DISTINCT", "ALL", "WHERE", "HAVING", "ON", "WHEN",
    "THEN", "ELSE", "CASE", "OR", "BY", "SET", "RETURN", "IF",
    "ELSEIF", "WHILE", "UNTIL",
}
_XOR_RIGHT_STOP = {
    "OR", "XOR", "THEN", "ELSE", "END", "WHEN", "FROM", "WHERE",
    "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW", "UNION",
    "INTERSECT", "EXCEPT", "AS", "ASC", "DESC", "JOIN", "INNER",
    "LEFT", "RIGHT", "FULL", "CROSS",
}


def _rewrite_logical_xor(masked: str, store: list[str]) -> str:
    """``a XOR b`` → MariaDB-truthy exclusive or. MariaDB evaluates
    XOR over numeric truthiness with NULL propagation
    (Item_func_xor::val_int, sql/item_cmpfunc.cc): NULL if either
    operand is NULL, else (a<>0) != (b<>0). Spark has no logical XOR
    spelling, so render

        CASE WHEN a IS NULL OR b IS NULL THEN NULL
             ELSE (coalesce(try_cast(a AS DOUBLE), 0d) <> 0d)
               <> (coalesce(try_cast(b AS DOUBLE), 0d) <> 0d) END

    (non-numeric strings coerce to 0 = false, like the server's loose
    numeric read). Operand capture follows MariaDB precedence
    (NOT > AND > XOR > OR): the scan does NOT stop at AND/NOT — they
    bind tighter and stay inside the operands (``a AND b XOR c`` =
    ``(a AND b) XOR c``) — and DOES stop at OR, commas, clause
    keywords and scope parens. Left-assoc chains (a XOR b XOR c) fold
    correctly because each emission is itself a parenthesized operand
    for the next."""
    pat = re.compile(r"\bXOR\b", re.IGNORECASE)
    word = re.compile(r"\w+")
    while True:
        m = pat.search(masked)
        if not m:
            return masked
        # LEFT operand: scan backward at same depth
        i = m.start()
        depth = 0
        lstart = 0
        j = i - 1
        while j >= 0:
            c = masked[j]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    lstart = j + 1
                    break
                depth -= 1
            elif depth == 0:
                if c in (",", ";"):
                    lstart = j + 1
                    break
                if c.isalnum() or c == "_":
                    # read the full word leftward
                    w0 = j
                    while w0 > 0 and (
                        masked[w0 - 1].isalnum() or masked[w0 - 1] == "_"
                    ):
                        w0 -= 1
                    tok = masked[w0 : j + 1].upper()
                    if tok in _XOR_LEFT_STOP:
                        lstart = j + 1
                        break
                    j = w0
            j -= 1
        left = masked[lstart : m.start()].strip()
        # RIGHT operand: token scan at same depth. Tracks whether an
        # operand was just completed so a bare word FOLLOWING one (an
        # implicit select-list alias: ``1 XOR 0 b``) ends the capture.
        op_words = {
            "AND", "NOT", "DIV", "MOD", "LIKE", "RLIKE", "REGEXP",
            "BETWEEN", "IS", "IN", "SOUNDS", "ESCAPE", "COLLATE",
            "BINARY", "INTERVAL", "NULL", "TRUE", "FALSE",
        }
        n_all = len(masked)
        rend = n_all
        j = m.end()
        expect_operand = True
        while j < n_all:
            c = masked[j]
            if c.isspace():
                j += 1
                continue
            if c == "(":
                j = _find_balanced(masked, j)
                expect_operand = False
                continue
            if c in (")", ",", ";"):
                rend = j
                break
            if c == "\x00":
                phm = _PH_RE.match(masked, j)
                j = phm.end() if phm else j + 1
                expect_operand = False
                continue
            if c.isalnum() or c == "_":
                wm = word.match(masked, j)
                tok = wm.group(0).upper()
                if tok in _XOR_RIGHT_STOP:
                    rend = j
                    break
                if tok in op_words:
                    # word operators / literals keep the scan open;
                    # NULL/TRUE/FALSE complete an operand
                    expect_operand = tok not in ("NULL", "TRUE", "FALSE")
                    j = wm.end()
                    continue
                if not expect_operand:
                    rend = j  # implicit alias after a full operand
                    break
                expect_operand = False
                j = wm.end()
                continue
            # symbol char: any operator punctuation reopens the scan
            expect_operand = True
            j += 1
        right = masked[m.end() : rend].strip()
        if not left or not right:
            # defensive: malformed capture — leave as-is (Spark will
            # surface the parse error on the untouched XOR)
            return masked
        # truthiness: direct numeric read first (numbers, booleans,
        # fully-numeric strings), else the my_strtod PREFIX read
        # ('5x' -> 5 -> truthy, like the server), else 0
        def xor_truthy(x: str) -> str:
            ph = _PH.format(len(store))
            store.append(_NUM_PREFIX_RX)
            return (
                f"(coalesce(try_cast(({x}) AS DOUBLE), "
                f"try_cast(regexp_extract(CAST(({x}) AS STRING), "
                f"{ph}, 0) AS DOUBLE), 0d) <> 0d)"
            )

        t_l = xor_truthy(left)
        t_r = xor_truthy(right)
        rendered = (
            f"(CASE WHEN ({left}) IS NULL OR ({right}) IS NULL"
            f" THEN NULL ELSE {t_l} <> {t_r} END)"
        )
        masked = masked[:lstart] + " " + rendered + " " + masked[rend:]


def _rewrite_null_safe_division(masked: str, store: list[str]) -> str:
    """MariaDB division/modulo semantics: ``x / 0``, ``x % 0`` and
    ``x DIV 0`` are NULL (+ warning), not an error (devregression
    mcs7005/7080/7218 all divide by a sometimes-zero aggregate). Spark
    ANSI raises at RUNTIME, which an analysis-time retry can never
    repair — so the dialect pass rewrites the operators themselves to
    try_divide/try_mod (and a DIV's divisor to ``nullif(d, 0)``). Results are identical whenever the divisor is
    non-zero, so this is behavior-neutral for every statement ANSI
    already accepted. Runs BEFORE the function-template pass so
    engine-generated internal divisions (SEC_TO_TIME etc.) keep plain
    operators."""
    changed = True
    while changed:
        changed = False
        for m in re.finditer(r"[/%]", masked):
            pos = m.start()
            # skip %-sequences inside placeholders (there are none:
            # placeholders are \x00<digits>\x00) and == boundaries
            ls = _operand_left(masked, pos)
            re_ = _operand_right(masked, pos + 1)
            left = masked[ls:pos].strip()
            right = masked[pos + 1 : re_].strip()
            if not left or not right:
                continue
            fn = "try_divide" if masked[pos] == "/" else "try_mod"
            masked = (
                masked[:ls]
                + f"{fn}({left}, {right})"
                + masked[re_:]
            )
            changed = True
            break
    # x DIV 0 is NULL as well: wrap each divisor, last DIV first so a
    # DIV inside a later divisor is already wrapped
    for m in reversed(list(_INT_DIV_RE.finditer(masked))):
        re_ = _operand_right(masked, m.end())
        right = masked[m.end() : re_].strip()
        if right:
            masked = f"{masked[:m.end()]} nullif({right}, 0){masked[re_:]}"
    return masked


#: keywords that may directly precede a string literal without it
#: being in alias position (LIKE "x%", BETWEEN a AND "y", THEN "z", …)
_ALIAS_LEAD_KEYWORDS = frozenset(
    """LIKE RLIKE REGEXP AND OR XOR NOT IN IS BETWEEN THEN ELSE WHEN
    ESCAPE RETURN RETURNS SELECT WHERE HAVING ON SET VALUES BY ALL
    DISTINCT ANY SOME CASE COLLATE SEPARATOR INTERVAL DEFAULT
    CONTAINS""".split()
)


def _rewrite_string_aliases(masked: str, store: list[str]) -> str:
    """``expr "alias"`` → ``expr AS `alias``` (mcs7096 shape:
    ``sum(if(F=1,1,0)) "1"``). MariaDB's default sql_mode (no
    ANSI_QUOTES) accepts a double-quoted string in alias position;
    Spark requires an identifier. Conservative trigger: the
    placeholder must hold a double-quoted string, follow a value
    token (word/``)``/placeholder), NOT follow a comma/open-paren/
    operator, and be followed by a list separator (comma / FROM /
    statement end) — so string literals in expression position
    (function args, comparisons, IN lists) never match."""

    def _sub(mo):
        lead, ph = mo.group(1), mo.group(2)
        # the lead must be a value token, not a keyword: `a LIKE "x%"`
        # / `BETWEEN x AND "y"` are expressions, not alias positions
        lead_word = re.search(r"[\w$]+$", lead)
        if lead_word and lead_word.group(0).upper() in _ALIAS_LEAD_KEYWORDS:
            return mo.group(0)
        idx = int(re.fullmatch("\x00(\\d+)\x00", ph).group(1))
        raw = store[idx]
        if raw[:1] != '"':
            return mo.group(0)
        name = raw[1:-1].replace('""', '"').replace("`", "``")
        return f"{lead} AS `{name}`"

    return re.sub(
        r"((?:[\w$]+|[`)\x00]))[ \t]+(\x00\d+\x00)"
        r"(?=\s*(?:,|$|;|\bFROM\b|\bUNION\b))",
        _sub,
        masked,
        flags=re.IGNORECASE,
    )
