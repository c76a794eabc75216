"""MariaDB-dialect function layer.

Reference analogue: the funcexp dispatch table (utils/funcexp/funcexp.cpp:67-263,
~150 scalar functions) plus the aggregate set (utils/rowgroup/rowaggregation.h:65-119).
Most map one-to-one onto pyspark.sql.functions; this module holds the ones
whose MariaDB semantics need composition or a thin wrapper. Everything here
stays JVM-side (no Python UDFs) so plans keep whole-stage codegen.

A helper here is the one definition of its function: the SQL front end
(sqltrans's function table) renders the same Column to SQL text, so the
registry plans and ``Engine.sql`` give the same answer.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def group_concat(
    col: Column | str,
    separator: str = ",",
    *,
    order_by: Column | str | None = None,
    ascending: bool = True,
    distinct: bool = False,
    limit: int | None = None,
) -> Column:
    """MariaDB GROUP_CONCAT([DISTINCT] col [ORDER BY ...] [LIMIT n]
    [SEPARATOR sep]).

    Reference: dbcon/joblist/groupconcat.cpp (ordered string concat agg;
    LIMIT is the MariaDB 10.6 extension). Spark-first: collect_list →
    sort_array → array_join; the ordered variant collects (key, value)
    structs so sort_array orders by the key; LIMIT is a slice AFTER
    ordering/dedup, matching MariaDB (first n of the ordered list).
    """
    col = F.col(col) if isinstance(col, str) else col
    if order_by is None:
        items = F.collect_set(col) if distinct else F.collect_list(col)
        vals = F.sort_array(items)
    else:
        key = F.col(order_by) if isinstance(order_by, str) else order_by
        pairs = F.collect_list(F.struct(key.alias("k"), col.alias("v")))
        ordered = F.sort_array(pairs, asc=ascending)
        vals = F.transform(ordered, lambda s: s["v"])
        if distinct:
            vals = F.array_distinct(vals)
    if limit is not None:
        vals = F.slice(vals, 1, limit)
    return F.array_join(vals, separator)


def json_arrayagg(col: Column | str) -> Column:
    """MariaDB JSON_ARRAYAGG (dbcon/joblist/jsonarrayagg.h:51)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.to_json(F.sort_array(F.collect_list(col)))


def cast_signed(col: Column) -> Column:
    """MariaDB CAST(x AS SIGNED) for fractional inputs (func_cast.cpp):
    rounds half away from zero, unlike Spark's truncating cast. Implemented
    as round-to-0-places (Spark round = HALF_UP, away from zero) then an
    exact integral cast."""
    return F.round(col, 0).cast("long")


def ifnull(a: Column, b: Column) -> Column:
    """MariaDB IFNULL(a, b) == COALESCE(a, b)."""
    return F.coalesce(a, b)


def sec_to_time(col: Column) -> Column:
    """MariaDB SEC_TO_TIME (func_sec_to_time): seconds → 'HH:MM:SS'
    string (the reference's TIME is interval-like, SURVEY §1.2 — we
    render the canonical string form). Negative inputs get a '-' sign
    like MariaDB, and the result clamps to TIME's range, ±838:59:59."""
    secs = col.cast("long")
    a = F.least(F.abs(secs), F.lit(838 * 3600 + 59 * 60 + 59))
    # format_string pads without truncating (lpad would cut 100+ hours)
    body = F.format_string(
        "%02d:%02d:%02d",
        (a / 3600).cast("long"),
        ((a % 3600) / 60).cast("long"),
        a % 60,
    )
    return F.when(secs < 0, F.concat(F.lit("-"), body)).otherwise(body)


def time_to_sec(col: Column) -> Column:
    """MariaDB TIME_TO_SEC: a TIME string ('HH:MM:SS' or 'HH:MM',
    signed, hours past 24) or the time part of a DATETIME → whole
    seconds; a DATE is midnight, 0. The string form of a DATETIME is
    'YYYY-MM-DD HH:MM:SS[.f]', so the time part is what follows the
    last space."""
    t = F.substring_index(col.cast("string"), " ", -1)
    # 'HH:MM' has no seconds: pad the parts so the third always exists
    p = F.concat(
        F.split(F.regexp_replace(t, "^-", ""), ":"), F.array(F.lit("0"))
    )
    secs = (
        F.element_at(p, 1).cast("long") * 3600
        + F.element_at(p, 2).cast("long") * 60
        + F.element_at(p, 3).cast("double").cast("long")
    )
    return (
        F.when(t.rlike(r"^\d+-\d+-\d+$"), F.lit(0).cast("long"))
        .when(t.startswith("-"), -secs)
        .otherwise(secs)
    )


def inet_aton(col: Column) -> Column:
    """MariaDB INET_ATON (Item_func_inet_aton): dotted IPv4 → number.
    Short forms put the last group in the low bytes ('127.1' is
    127.0.0.1, '10.0.1' is 10.0.0.1); NULL for a group over 255, a
    trailing '.', more than three dots, or any non-digit."""
    s = col.cast("string")
    dots = F.length(s) - F.length(F.regexp_replace(s, r"\.", ""))

    def digits(part: Column) -> Column:  # '' (absent or empty) reads 0
        return F.concat(F.lit("0"), part).try_cast("long")

    groups = [
        digits(F.split_part(s, F.lit("."), F.lit(i))) for i in range(1, 5)
    ]
    num = digits(F.substring_index(s, ".", -1))
    for i in (1, 2, 3):
        shifted = groups[i - 1] * 256 ** (4 - i)
        num = num + F.when(dots >= i, shifted).otherwise(0)
    ok = s.rlike(r"^([0-9]*\.){0,3}[0-9]+$") & (F.greatest(*groups) <= 255)
    return F.when(ok, num)


def inet_ntoa(col: Column) -> Column:
    """MariaDB INET_NTOA: number → dotted-quad IPv4; NULL outside
    [0, 2^32)."""
    n = col.cast("long")
    return F.when(
        (n >= 0) & (n <= 4294967295),
        F.concat_ws(
            ".",
            (F.shiftright(n, 24).bitwiseAND(255)).cast("string"),
            (F.shiftright(n, 16).bitwiseAND(255)).cast("string"),
            (F.shiftright(n, 8).bitwiseAND(255)).cast("string"),
            (n.bitwiseAND(255)).cast("string"),
        ),
    )


def if_(cond: Column, then: Column, otherwise: Column) -> Column:
    """MariaDB IF(cond, a, b) (func_if.cpp)."""
    return F.when(cond, then).otherwise(otherwise)


# --- Oracle-mode variants (sql_mode=ORACLE; funcexp *_oracle entries) ---


def concat_oracle(*cols: Column) -> Column:
    """Oracle-mode CONCAT (func_concat.cpp concat_oracle): NULL arguments
    are treated as empty strings instead of nullifying the result."""
    return F.concat(*[F.coalesce(c, F.lit("")) for c in cols])


def nvl(a: Column, b: Column) -> Column:
    """Oracle-mode NVL ≡ IFNULL/COALESCE."""
    return F.coalesce(a, b)


def decode_oracle(expr: Column, *pairs: Column) -> Column:
    """Oracle-mode DECODE(expr, s1, r1[, s2, r2 ...][, default])
    (func_case.cpp decode_oracle). NULL search values match NULL exprs
    (unlike CASE equality) — implemented with null-safe equality."""
    default = pairs[-1] if len(pairs) % 2 == 1 else F.lit(None)
    out = None
    for i in range(0, len(pairs) - (len(pairs) % 2), 2):
        cond = expr.eqNullSafe(pairs[i])
        out = F.when(cond, pairs[i + 1]) if out is None else out.when(
            cond, pairs[i + 1]
        )
    return default if out is None else out.otherwise(default)


# --- Period arithmetic (func_period_add.cpp, func_period_diff.cpp) ---


def _period_months(p: Column) -> Column:
    """Period → absolute month count, honoring MariaDB's two-digit-year
    form (sql-common/my_time.c convert_period_to_month): a YYMM period's
    year gets the 70-cutoff century rule (<70 → 2000s, 70-99 → 1900s);
    period 0 maps to month 0."""
    pl = p.cast("long")
    return F.when(pl == 0, F.lit(0).cast("long")).otherwise(
        _century(pl / 100) * 12 + pl % 100 - 1
    )


def _century(y: Column) -> Column:
    """Two-digit year → four digits with the 70 cutoff (<70 → 2000s,
    70-99 → 1900s). The additive form names ``y`` three times, not
    five, which keeps nested period calls rendered to SQL small."""
    y = y.cast("long")
    return y + F.when(y < 70, 2000).when(y < 100, 1900).otherwise(0)


def period_add(p: Column, n: Column) -> Column:
    """MariaDB PERIOD_ADD(P, N): add N months to period P (YYYYMM or
    YYMM; the result is always rendered YYYYMM, as in
    convert_month_to_period)."""
    m = _period_months(p) + n.cast("long")
    return F.when(m == 0, F.lit(0).cast("long")).otherwise(
        (_century(m / 12) * 100 + m % 12 + 1).cast("long")
    )


def period_diff(p1: Column, p2: Column) -> Column:
    """MariaDB PERIOD_DIFF(P1, P2): months between periods (YYYYMM or
    YYMM, two-digit years century-resolved like PERIOD_ADD)."""
    return _period_months(p1) - _period_months(p2)


def add_time(ts: Column, time_str: Column) -> Column:
    """MariaDB ADDTIME(ts, 'HH:MM:SS') (func_add_time.cpp): shift a
    timestamp by a TIME-string offset (sign-aware via time_to_sec)."""
    secs = time_to_sec(time_str)
    return F.timestamp_add("SECOND", secs, ts)


def timediff(a: Column, b: Column) -> Column:
    """MariaDB TIMEDIFF(a, b) → signed 'HH:MM:SS' string (TIME render,
    same contract as sec_to_time). The TIMESTAMP hop makes it work for
    TIMESTAMP_NTZ inputs too (NTZ → long is not a valid direct cast)."""
    delta = a.cast("timestamp").cast("long") - b.cast("timestamp").cast(
        "long"
    )
    return sec_to_time(delta)


def subtime(ts: Column, time_str: Column) -> Column:
    """MariaDB SUBTIME(ts, 'HH:MM:SS') (func_add_time.cpp with the sign
    flipped): shift a timestamp back by a TIME-string offset."""
    return F.timestamp_add("SECOND", -time_to_sec(time_str), ts)


def makedate(year: Column, doy: Column) -> Column:
    """MariaDB MAKEDATE(year, dayofyear) (func_makedate.cpp): the date
    ``dayofyear - 1`` days after Jan 1 of ``year``; NULL when
    dayofyear < 1 (MariaDB returns NULL, not a prior-year date)."""
    base = F.make_date(year, F.lit(1), F.lit(1))
    return F.when(doy >= 1, F.date_add(base, (doy - 1).cast("int")))


def maketime(h: Column, m: Column, s: Column) -> Column:
    """MariaDB MAKETIME(hour, minute, second) (func_maketime.cpp) →
    'HH:MM:SS' TIME render. Hours may be negative (sign applies to the
    whole time, magnitudes of minute/second still add); NULL when
    minute/second fall outside [0, 60)."""
    ok = (m >= 0) & (m < 60) & (s >= 0) & (s < 60)
    total = F.abs(h) * 3600 + m * 60 + s
    signed = F.when(h < 0, -total).otherwise(total)
    return F.when(ok, sec_to_time(signed))


# --- WEEK(date, mode) — all 8 MariaDB modes (func_week.cpp) ---

#: calc_daynr('1970-01-01') in MariaDB's day numbering (days since year 0)
_EPOCH_DAYNR = 719528


def _days_in_year_col(y: Column) -> Column:
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    return F.when(leap, 366).otherwise(365)


def week_mode(col: Column, mode: int = 0) -> Column:
    """MariaDB WEEK(date, mode) for all modes 0-7 (func_week.cpp →
    sql-common calc_week). Spark's ``weekofyear`` is ISO-8601 only
    (mode 3); MariaDB's DEFAULT is mode 0 (Sunday-start, 0..53), so any
    query ported from the reference silently shifts weeks without this.

    The mode bits (monday-first / week-year / first-weekday, with the
    sunday-first bit-flip quirk) are resolved at plan-build time; only
    date-dependent branches become ``when`` chains — the whole thing
    stays inside whole-stage codegen."""
    if not 0 <= mode <= 7:
        raise ValueError(f"WEEK mode must be 0-7, got {mode}")
    monday_first = bool(mode & 1)
    week_year = bool(mode & 2)
    first_weekday = bool(mode & 4)
    if not monday_first:  # my_time.c week_mode(): sunday-first flips bit
        first_weekday = not first_weekday

    daynr = F.datediff(col, F.lit("1970-01-01")) + _EPOCH_DAYNR
    jan1 = F.trunc(col, "year")
    first_daynr = F.datediff(jan1, F.lit("1970-01-01")) + _EPOCH_DAYNR
    # weekday of Jan 1: 0=Monday (monday-first) or 0=Sunday (sunday-first)
    weekday = (first_daynr + (5 if monday_first else 6)) % 7
    y = F.year(col)

    def shift_cond(wd: Column) -> Column:
        return (wd != 0) if first_weekday else (wd >= 4)

    def path_week(first_dn: Column, wd: Column, yr: Column,
                  wy: bool) -> Column:
        days = F.when(
            shift_cond(wd), daynr - (first_dn + 7 - wd)
        ).otherwise(daynr - (first_dn - wd))
        week = (F.floor(days / 7) + 1).cast("int")
        if wy:
            wd2 = (wd + _days_in_year_col(yr)) % 7
            roll = (wd2 == 0) if first_weekday else (wd2 < 4)
            week = F.when((days >= 52 * 7) & roll, 1).otherwise(week)
        return week

    # wrap case: the first days of January may belong to the last week of
    # the previous year (or week 0 when the mode allows it)
    jan_wrap = (F.month(col) == 1) & (F.dayofmonth(col) <= 7 - weekday)
    prev_days = _days_in_year_col(y - 1)
    b_first = first_daynr - prev_days
    b_weekday = (weekday + 53 * 7 - prev_days) % 7
    b = path_week(b_first, b_weekday, y - 1, wy=True)
    a = path_week(first_daynr, weekday, y, wy=week_year)
    if week_year:
        return F.when(jan_wrap, b).otherwise(a)
    return (
        F.when(jan_wrap & shift_cond(weekday), F.lit(0))
        .when(jan_wrap, b)
        .otherwise(a)
    )


def yearweek_mode(col: Column, mode: int = 0) -> Column:
    """MariaDB YEARWEEK(date, mode): year*100 + week, where the year is
    the week's OWNING year (a January date in the previous year's last
    week reports that previous year). YEARWEEK forces the week-year bit
    (never returns week 0), per func_yearweek.cpp."""
    wk = week_mode(col, mode | 2)  # YEARWEEK always uses week-year mode
    y = F.year(col)
    # the week number itself locates the owning year: a January date
    # carrying week 52/53 belongs to the previous year, a December date
    # carrying week 1 to the next
    owner = (
        F.when((F.month(col) == 1) & (wk >= 52), y - 1)
        .when((F.month(col) == 12) & (wk == 1), y + 1)
        .otherwise(y)
    )
    return (owner * 100 + wk).cast("long")


# --- DATE_FORMAT / STR_TO_DATE %-pattern translation (func_date_format,
#     func_str_to_date; the format language GET_FORMAT emits) ---

_MARIADB_FMT = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "I": "hh", "l": "h",
    "i": "mm", "s": "ss", "S": "ss", "f": "SSSSSS", "p": "a",
    "W": "EEEE", "a": "EEE", "b": "MMM", "M": "MMMM",
    "j": "DDD", "r": "hh:mm:ss a", "T": "HH:mm:ss",
}

_TIME_SPECS = set("HkhIlisSfrTp")


def translate_date_format(fmt: str) -> str:
    """MariaDB/MySQL %-pattern → Java DateTimeFormatter pattern.

    Literal runs are single-quoted (unquoted letters are pattern chars
    to Java — the classic silent-corruption trap when translating C
    formats). Week-based specifiers (%U %u %V %v %X %x) and ordinal %D
    have no Java analogue and raise — use ``week_mode`` for the former.
    """
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            spec = fmt[i + 1]
            if spec == "%":
                lit.append("%")
            elif spec in _MARIADB_FMT:
                flush()
                out.append(_MARIADB_FMT[spec])
            else:
                raise ValueError(
                    f"unsupported DATE_FORMAT specifier %{spec} "
                    "(week-based specifiers: use dialect.week_mode)"
                )
            i += 2
        else:
            lit.append(ch)
            i += 1
    flush()
    return "".join(out)


def date_format_mariadb(col: Column, fmt: str) -> Column:
    """MariaDB DATE_FORMAT(col, '%...') — the format string is a Python
    literal resolved at plan-build time (as in SQL text).

    Specifiers with a Java-pattern analogue translate directly; the
    week-based ones (%U %u %V %v = WEEK modes 0/1/2/3, %X %x = the
    corresponding week-owning years) and ordinal %D have none, so the
    result is composed as a concat of date_format runs and week_mode /
    yearweek_mode expressions — still one JVM projection."""
    parts: list[Column] = []
    buf = ""

    def flush() -> None:
        nonlocal buf
        if buf:
            parts.append(F.date_format(col, translate_date_format(buf)))
            buf = ""

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            sp = fmt[i + 1]
            if sp in "UuVv":
                flush()
                mode = {"U": 0, "u": 1, "V": 2, "v": 3}[sp]
                parts.append(
                    F.lpad(week_mode(col, mode).cast("string"), 2, "0")
                )
            elif sp in "Xx":
                flush()
                mode = 2 if sp == "X" else 3
                parts.append(
                    (yearweek_mode(col, mode) / 100).cast("long").cast(
                        "string"
                    )
                )
            elif sp == "D":
                flush()
                day = F.dayofmonth(col)
                suffix = (
                    F.when((day % 100).isin(11, 12, 13), "th")
                    .when(day % 10 == 1, "st")
                    .when(day % 10 == 2, "nd")
                    .when(day % 10 == 3, "rd")
                    .otherwise("th")
                )
                parts.append(F.concat(day.cast("string"), suffix))
            else:
                buf += fmt[i : i + 2]
            i += 2
        else:
            buf += fmt[i]
            i += 1
    flush()
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def str_to_date(col: Column, fmt: str) -> Column:
    """MariaDB STR_TO_DATE: parse with a %-pattern; returns DATE when
    the pattern has no time part, DATETIME (timestamp) otherwise —
    the reference's type contract (func_str_to_date.cpp)."""
    java = translate_date_format(fmt)
    has_time = any(
        fmt[i] == "%" and i + 1 < len(fmt) and fmt[i + 1] in _TIME_SPECS
        for i in range(len(fmt))
    )
    parsed = F.to_timestamp(col, java)
    return parsed if has_time else parsed.cast("date")


# --- per-column declared collations (DDL) ---------------------------

#: MariaDB locale token (the middle of charset_locale_ci collation
#: names) → ICU locale prefix of Spark's collation registry. Only
#: locales with a distinct ICU tailoring are listed; everything else a
#: MariaDB user writes resolves to the root-locale UCA weights
#: (utils/common/collation.h wraps the server's CHARSET_INFO, whose
#: per-locale weight tables are these same tailorings).
_COLLATION_LOCALES = {
    "turkish": "tr",
    "danish": "da",
    "german2": "de",
    "german1": "de",
    "swedish": "sv",
    "spanish": "es",
    "spanish2": "es",
    "czech": "cs",
    "polish": "pl",
    "hungarian": "hu",
    "lithuanian": "lt",
    "latvian": "lv",
    "slovak": "sk",
    "romanian": "ro",
    "slovenian": "sl",
    "estonian": "et",
    "icelandic": "is",
    "croatian": "hr",
    "vietnamese": "vi",
    "persian": "fa",
}

#: root-locale tokens: UCA (or codepage) weights with no tailoring
_COLLATION_ROOTS = {"unicode", "general", "uca1400", "0900", "unicode_520"}


def spark_collation(mariadb_name: str) -> str | None:
    """Map a declared MariaDB collation name to Spark's ICU collation
    registry (``None`` = binary, Spark's UTF8_BINARY default).

    Naming grammar is ``charset_locale[_version]_sensitivity``
    (collation.h / INFORMATION_SCHEMA.COLLATIONS):
      *_bin            → binary (None)
      *_ci / *_ai_ci   → primary-strength compare: case- AND
                         accent-insensitive (MariaDB UCA _ci collations
                         weight at primary strength) → <locale>_CI_AI
      *_as_ci          → accent-sensitive, case-insensitive → <locale>_CI
    Unknown locale tokens raise — honest refusal over silently wrong
    sort weights (the reference errors on unknown collations at DDL
    time too, ddl.y → SYSTEM error 'unknown collation')."""
    n = mariadb_name.strip().strip("'\"").lower()
    if n == "binary" or n.endswith("_bin") or n.endswith("_nopad_bin"):
        return None
    parts = n.split("_")
    if len(parts) < 2:
        raise ValueError(f"unknown collation: {mariadb_name!r}")
    # strip charset prefix + sensitivity suffixes off the locale token
    body = parts[1:]
    accent_sensitive = False
    while body and body[-1] in ("ci", "ai", "as", "nopad", "520"):
        if body[-1] == "as":
            accent_sensitive = True
        body.pop()
    locale = "_".join(body)
    if locale in _COLLATION_ROOTS or locale == "":
        prefix = "UNICODE"
    elif locale in _COLLATION_LOCALES:
        prefix = _COLLATION_LOCALES[locale]
    else:
        raise ValueError(f"unknown collation: {mariadb_name!r}")
    return f"{prefix}_CI" if accent_sensitive else f"{prefix}_CI_AI"
