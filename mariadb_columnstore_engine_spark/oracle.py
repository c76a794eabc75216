"""DuckDB-oracle comparison helpers (shared by tools/check_parity.py and
the pytest parity suite).

Mirrors the driver's correctness gate: row count, schema (column names,
sorted), and order-insensitive value comparison with columns sorted by
name. Floats must already be rounded inside the queries themselves (see
plans/tpch.py float policy).
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from mariadb_columnstore_engine_spark.catalog import TABLES


def arrow_type_category(t: pa.DataType) -> str:
    """Collapse an Arrow type to the equivalence class the driver's
    type-sensitive value hash distinguishes.

    Python-side, int8..int64 all surface as ``int`` and string /
    large_string both as ``str`` — but decimal128 surfaces as
    ``decimal.Decimal`` which hashes differently from ``int``/``float``
    (the round-2 failure mode: DuckDB sum(INTEGER) → HUGEINT →
    decimal128(38,0) vs Spark int64)."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal(p={t.precision},s={t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_type_category(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct"
    return str(t)


def spark_type_category(dt) -> str:
    """Same equivalence classes, from a Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal(p={dt.precision},s={dt.scale})"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_category(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        return "struct"
    return dt.simpleString()


def type_problems(spark_schema, arrow_schema: pa.Schema) -> list[str]:
    """Column-by-column wire-type comparison (Spark schema vs the Arrow
    schema DuckDB materializes). Catches hash-affecting mismatches the
    Python-value comparison can't see (duckdb.fetchall() flattens HUGEINT
    and DECIMAL to int/Decimal before we ever look)."""
    s = {f.name: spark_type_category(f.dataType) for f in spark_schema.fields}
    o = {f.name: arrow_type_category(f.type) for f in arrow_schema}
    return [
        f"type[{name}] spark={s[name]} duck={o[name]}"
        for name in sorted(set(s) & set(o))
        if s[name] != o[name]
    ]


# Wire-type categories the DRIVER's pandas canonicalizer can hash reliably.
# Decimal is excluded: DuckDB's pandas conversion flattens DECIMAL to
# float64 while Spark's toPandas keeps decimal.Decimal objects — the two
# sides can never hash-match even on exactly-equal values (the round-3
# failure mode). Array/struct/map/binary are excluded: pandas sort_values
# crashes on unhashable list cells (round-3 sf_json_long_tail error).
DRIVER_HASHABLE = ("int", "float", "str", "bool", "date", "timestamp")


def driver_canon_problems(spark_schema, arrow_schema: pa.Schema) -> list[str]:
    """Mirror of the verification driver's pandas canonicalization limits:
    every output column of a driver-checked query must be in a
    DRIVER_HASHABLE category on BOTH sides. Applied by compare() only to
    PRIORITY_WINDOW queries — non-window queries may keep decimal-typed
    outputs (pinned by the type-aware check above) since only the local
    gate ever sees them."""
    problems = []
    for f in spark_schema.fields:
        cat = spark_type_category(f.dataType)
        if cat.split("(")[0] not in DRIVER_HASHABLE:
            problems.append(f"driver-unhashable spark[{f.name}]: {cat}")
    for f in arrow_schema:
        cat = arrow_type_category(f.type)
        if cat.split("(")[0] not in DRIVER_HASHABLE:
            problems.append(f"driver-unhashable duck[{f.name}]: {cat}")
    return problems


def pandas_sortable_problems(otable: pa.Table) -> list[str]:
    """Mirror the driver canonicalizer's sort step: sort_values over every
    column of the pandas-converted oracle result. An unsortable object
    cell (list/dict) here is exactly the crash the driver hit on
    sf_json_long_tail in round 3."""
    pd_df = otable.to_pandas()
    try:
        pd_df.sort_values(by=list(pd_df.columns))
    except Exception as e:  # noqa: BLE001 — any crash = driver crash
        return [f"driver pandas sort_values would fail: {e!r}"]
    return []


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 == 0.0
        return v
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):  # Row/struct collected as dict
        return tuple((k, norm_cell(v[k])) for k in sorted(v))
    return v


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def table_glob(sf_dir: str, t: str) -> str:
    """DuckDB-readable path for a fixture table: the driver fixtures are
    single files; Spark-written fixtures (e.g. the local sf1 anchor) are
    directories of part files, which DuckDB needs as a glob."""
    import os

    path = f"{sf_dir}/{t}.parquet"
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with every fixture table registered as a view (the
    driver pre-registers the same views for oracle SQL)."""
    con = duckdb.connect()
    import os

    from mariadb_columnstore_engine_spark.catalog import OPTIONAL_TABLES

    extra = tuple(
        t for t in OPTIONAL_TABLES
        if os.path.exists(f"{sf_dir}/{t}.parquet")
    )
    for t in TABLES + extra:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_glob(sf_dir, t)}'"
        )
    return con


def oracle_rows(con, sql: str) -> tuple[pa.Table, list[tuple]]:
    """ONE oracle execution: the Arrow table supplies rows, column names
    and the wire-type schema (``fetchall`` would flatten HUGEINT/DECIMAL,
    and a second ``.execute()`` would double the cost of every heavy
    oracle — recursive closures, kmeans, LSH)."""
    otable = con.execute(sql).arrow()
    cols = [c.to_pylist() for c in otable.columns]
    return otable, list(zip(*cols)) if cols else []


def problems(name: str, sdf, srows: list, otable: pa.Table,
             orows: list) -> list[str]:
    """Problem strings (empty = parity) for query ``name``: Spark's
    DataFrame ``sdf`` with collected ``srows`` against the oracle's
    ``oracle_rows``."""
    from mariadb_columnstore_engine_spark.plans.registry import (
        PRIORITY_WINDOW,
    )

    scols, ocols = sdf.columns, otable.column_names
    out = type_problems(sdf.schema, otable.schema)
    # Driver-window queries additionally face the driver's pandas
    # canonicalizer — enforce its type limits locally so a red driver row
    # reproduces before shipping (round-3 lesson: 3 queries were value-
    # correct but driver-unhashable).
    if name in PRIORITY_WINDOW:
        out += driver_canon_problems(sdf.schema, otable.schema)
        out += pandas_sortable_problems(otable)
    if len(srows) != len(orows):
        out.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if sorted(scols) != sorted(ocols):
        out.append(f"schema spark={sorted(scols)} duck={sorted(ocols)}")
    if not out:
        a = normalize(srows, scols)
        b = normalize(orows, ocols)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            out.append(f"values differ, first diffs: {diffs}")
    return out


def compare(spark, con, spec, sf_dir: str) -> list[str]:
    """Run spec through Spark and its oracle through DuckDB; return a list
    of problem strings (empty = parity)."""
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        return []  # rows-only contract: executing without error is the check
    return problems(spec.name, sdf, srows, *oracle_rows(con, spec.oracle))
