"""Ingest / DDL / DML surface.

Reference analogues:
- ``bulk_load_csv``  ≈ cpimport parallel bulk load
  (writeengine/bulk/cpimport.cpp, we_bulkload.cpp): delimited data
  written straight to columnar extents, bypassing row DML. Here:
  schema-checked CSV scan → optional range-clustering → Parquet.
  Clustering on filter columns is what makes Parquet row-group min/max
  stats selective — the exact job of the reference's extent-map casual
  partitioning (versioning/BRM/extentmap.h:127-183, lbidlist.cpp:698).
- ``append_rows`` ≈ DMLProc's row path for ``INSERT … VALUES``
  (dbcon/dmlpackageproc/insertpackageprocessor.cpp); the instant-ALTER
  sidecar ≈ DDL without a data rewrite.

S3/cloud paths (storage-manager/src/CloudStorage.cpp) need no code:
every function here accepts ``s3a://`` URIs wherever it accepts a path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def bulk_load_csv(
    spark: SparkSession,
    src: str,
    schema: StructType | str,
    dest: str,
    *,
    cluster_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    codec: str = "snappy",
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
    escape: str = "\\",
    line_sep: str | None = None,
    skip_rows: int = 0,
    null_value: str = "",
    mode: str = "overwrite",
) -> None:
    """CSV → Parquet bulk load (cpimport / LOAD DATA INFILE analogue).

    ``cluster_by``: range-repartition + in-partition sort on these columns
    so Parquet row-group min/max stats become selective for filters on
    them (≈ extent map casual partitioning). ``partition_by``: hive-style
    directory partitioning for coarse partition pruning.

    The LDI dialect knobs map one-to-one: FIELDS TERMINATED BY →
    ``delimiter``, ENCLOSED BY → ``quote``, ESCAPED BY → ``escape``,
    LINES TERMINATED BY → ``line_sep``, IGNORE n ROWS/LINES →
    ``skip_rows`` (header=True is IGNORE 1 with name checking), and the
    empty-string/NULL marker → ``null_value`` (mysql-test
    ldi_fields_enclosed_by / ldi_fields_escaped_by /
    ldi_lines_terminated_by / ldi_ignore_rows coverage).
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("quote", quote)
        .option("escape", escape)
        .option("nullValue", null_value)
    )
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    if skip_rows:
        # LDI's IGNORE n LINES: one statement = one file, so resolve the
        # byte offset of line n+1 and parse only lines past it. Spark's
        # CSV reader has no skip option; this compat path round-trips
        # the file through an RDD of lines (slower — use it for the
        # dialect knob, not the bulk path).
        rdd = spark.sparkContext.newAPIHadoopFile(
            src,
            "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
            "org.apache.hadoop.io.LongWritable",
            "org.apache.hadoop.io.Text",
        )
        offsets = rdd.keys().takeOrdered(skip_rows + 1)
        if len(offsets) <= skip_rows:
            raise ValueError(
                f"skip_rows={skip_rows} >= file line count"
            )
        cutoff = offsets[skip_rows]
        lines = rdd.filter(lambda kv: kv[0] >= cutoff).values()
        df = reader.schema(schema).csv(lines)
    else:
        df = reader.schema(schema).csv(src)
    write_parquet(
        df, dest, cluster_by=cluster_by, partition_by=partition_by,
        codec=codec, mode=mode,
    )


def write_parquet(
    df: DataFrame,
    dest: str,
    *,
    cluster_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    codec: str = "snappy",
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Columnar sink with the engine's two physical-layout levers.
    ``format`` may be ``parquet`` (default) or ``orc`` — both carry
    row-group/stripe min-max stats, so clustering buys the same
    data-skipping either way.

    ``cluster_by``: range-repartition + in-partition sort so row-group
    min/max stats are selective (≈ extent-map casual partitioning,
    dbcon/joblist/lbidlist.cpp:698). ``partition_by``: hive-style
    directory partitioning for planning-time partition pruning (≈ the
    reference's partition DDL, dbcon/ddlpackage/droppartition.cpp).
    """
    writer_df = df
    if cluster_by:
        writer_df = df.repartitionByRange(*cluster_by).sortWithinPartitions(
            *cluster_by
        )
    writer = writer_df.write.option("compression", codec).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(format).save(dest)


#: Parquet codec names of ``spark.sql.parquet.compression.codec`` that
#: pyarrow writes
_ARROW_CODECS = {
    "none": "none", "uncompressed": "none", "snappy": "snappy",
    "gzip": "gzip", "zstd": "zstd", "brotli": "brotli", "lz4": "lz4",
    "lz4_raw": "lz4",
}


def _arrow_type(dt):
    """The Arrow type whose Parquet column Spark's reader reads back as
    Spark type ``dt``; None for types the row path does not write."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.StringType):
        # collated strings are stored plain (strip_collations)
        return pa.string() if dt.simpleString() == "string" else None
    return {
        T.BooleanType: pa.bool_(), T.ByteType: pa.int8(),
        T.ShortType: pa.int16(), T.IntegerType: pa.int32(),
        T.LongType: pa.int64(), T.FloatType: pa.float32(),
        T.DoubleType: pa.float64(), T.BinaryType: pa.binary(),
        # days / microseconds since the epoch, collected as integers
        T.DateType: pa.date32(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
        T.TimestampNTZType: pa.timestamp("us"),
    }.get(type(dt))


def _local_plan(df: DataFrame):
    """``df``'s optimized plan when it is a LocalRelation — the optimizer
    then computed its rows in the driver, and collecting them runs no
    Spark job — else None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan if plan.getClass().getSimpleName() == "LocalRelation" else None


def as_local(df: DataFrame) -> DataFrame | None:
    """``df`` as the LocalRelation it optimizes to, its rows fixed as
    the optimizer computed them; None when it does not optimize to one."""
    plan = _local_plan(df)
    if plan is None:
        return None
    spark = df.sparkSession
    return DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, plan
        ),
        spark,
    )


def append_rows(spark: SparkSession, path: str, df: DataFrame,
                before) -> bool:
    """Append a literal row set as one Parquet file written by pyarrow,
    with no Spark job: the row path of an ``INSERT … VALUES``, as
    DMLProc hands row DML to WriteEngine (dbcon/dmlpackageproc/
    insertpackageprocessor.cpp) beside cpimport's bulk path. Returns
    False, writing nothing, unless ``df`` optimizes to a LocalRelation,
    the table (manifest state ``before``) has no ``k=v`` directories
    and every column type has an Arrow mapping; the caller then writes
    through Spark.

    The file carries Spark's schema JSON in its footer, as Spark's
    writer does, so the manifest records it without a schema-merge
    read. It is written under a ``_``-prefixed name (invisible to Spark
    and the manifest) and moved in with ``os.replace``."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark
    from pyspark.sql import types as T

    from mariadb_columnstore_engine_spark.sources.manifest import (
        _SPARK_SCHEMA_KEY,
    )

    types = [_arrow_type(f.dataType) for f in df.schema.fields]
    codec = _ARROW_CODECS.get(
        spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
        .lower()
    )
    if None in types or codec is None or any(
        os.path.dirname(rel) for rel in before.files
    ):
        return False
    # dates and timestamps come back as epoch integers, which Arrow
    # takes as they are (no local-time-zone conversion on the way)
    to_int = {
        T.DateType: "unix_date({})",
        T.TimestampType: "unix_micros({})",
        T.TimestampNTZType:
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01', {})",
    }
    exprs = []
    for f in df.schema.fields:
        c = "`" + f.name.replace("`", "``") + "`"
        fmt = to_int.get(type(f.dataType))
        exprs.append(f"{fmt.format(c)} AS {c}" if fmt else c)
    ints = df.selectExpr(*exprs)
    if _local_plan(ints) is None:
        return False
    rows = ints.collect()
    if not rows:
        return True
    schema = pa.schema(
        [pa.field(f.name, t) for f, t in zip(df.schema.fields, types)],
        metadata={
            _SPARK_SCHEMA_KEY: df.schema.json(),
            # a Spark 3+ writer's files need no calendar rebase
            b"org.apache.spark.version": pyspark.__version__,
        },
    )
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=t)
         for i, t in enumerate(types)],
        schema=schema,
    )
    uid = uuid.uuid4()
    tmp = os.path.join(path, f"_rows-{uid}.parquet")
    try:
        # store_schema keeps the key-value metadata (pyarrow drops it
        # without the Arrow schema)
        pq.write_table(table, tmp, compression=codec, store_schema=True)
        os.replace(tmp, os.path.join(path, f"part-00000-{uid}-c000.parquet"))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return True


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed (+ optionally sorted) table.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — each task reads matching bucket files from both
    sides. This is the Spark analogue of the reference keeping all data
    PM-local and re-converging on the UM (ColumnStore has no shuffle at
    all, SURVEY §4): pre-partition once at write time, then every
    key-aligned join/aggregation is exchange-free. At 100 TB, bucketing
    the fact table on its dominant join key removes the biggest shuffle
    from every query that uses it.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def analyze_table(spark: SparkSession, name: str,
                  columns: list[str] | None = None) -> None:
    """ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS] — feeds the CBO
    join-reorder/stats machinery the engine session enables
    (spark.sql.cbo.*). Reference analogue: the ANALYZE plan
    (dbcon/execplan/mcsanalyzetableexecutionplan.h) feeding the
    statistics-guided join graph (jlf_tuplejoblist.cpp:1607-1850,
    utils/common/statistics.h:44-129). Without this, CBO conf is inert —
    VERDICT r1's finding; call it after create_table on hot tables.
    """
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS "
            + ", ".join(columns)
        )


# --- Instant ALTER TABLE (schema evolution without data rewrite) ---
#
# ColumnStore's ADD COLUMN allocates new extents and backfills nothing
# (dbcon/ddlpackage/altertable.cpp; existing extents simply predate the
# column) and DROP COLUMN is lazy. The Spark/Parquet analogue: new files
# carry the new column, old files don't, and a sidecar records the
# evolution so reads can merge + apply defaults — zero data movement.

_SIDECAR = "_schema_evolution.json"


def _evolution(path: str) -> dict:
    import json
    import os

    p = os.path.join(path, _SIDECAR)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"added": [], "dropped": []}


def _write_evolution(path: str, evo: dict) -> None:
    """Replace the sidecar whole: the text goes to a ``_``-prefixed temp
    file beside it (invisible to Spark's file index) that ``os.replace``
    swaps in, so a write that dies half-way leaves the old one readable."""
    import json
    import os
    import uuid

    tmp = os.path.join(path, f"{_SIDECAR}.{uuid.uuid4().hex[:8]}")
    try:
        with open(tmp, "w") as f:
            json.dump(evo, f, indent=1)
        os.replace(tmp, os.path.join(path, _SIDECAR))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def alter_add_column(path: str, name: str, dtype: str,
                     default=None, after: str | None = None) -> None:
    """Instant ADD COLUMN: records (name, type, default) in the table's
    evolution sidecar — no rewrite, O(1) like the reference. Rows in
    files predating the ALTER surface the default on read (documented
    contract: NULLs in pre-ALTER files read as the default; a
    nullable add passes default=None). ``after`` places the column in
    the logical order (mcs87_alter_column: ADD COLUMN .. AFTER c11):
    a column name, or ``"__first__"`` for FIRST — a read-side
    projection-order fact, zero data movement."""
    evo = _evolution(path)
    if any(c["name"] == name for c in evo["added"]):
        raise ValueError(f"column {name!r} already added")
    entry = {"name": name, "dtype": dtype, "default": default}
    if after is not None:
        entry["after"] = after
    evo["added"].append(entry)
    evo["dropped"] = [c for c in evo["dropped"] if c != name]
    _write_evolution(path, evo)


def alter_drop_column(path: str, name: str) -> None:
    """Instant DROP COLUMN: hides the column on read; data files are
    untouched (the reference's lazy drop — space reclaimed on the next
    rewrite)."""
    evo = _evolution(path)
    evo["added"] = [c for c in evo["added"] if c["name"] != name]
    if name not in evo["dropped"]:
        evo["dropped"].append(name)
    _write_evolution(path, evo)


def _logical_columns(path: str) -> list[str]:
    """Column names of the table's LOGICAL schema (physical footer
    columns + sidecar adds − drops, renames applied)."""
    import pyarrow.parquet as pq

    from mariadb_columnstore_engine_spark.sources import manifest

    files = list(manifest.partitions(path).values())
    cols: list[str] = []
    if files:
        cols = list(pq.ParquetFile(files[0]).schema_arrow.names)
    evo = _evolution(path)
    for c in evo.get("added", []):
        if c["name"] not in cols:
            cols.append(c["name"])
    for r in evo.get("renamed", []):
        cols = [r["to"] if c == r["from"] else c for c in cols]
    for g in evo.get("generated", []):
        if g["name"] not in cols:
            cols.append(g["name"])
    return [c for c in cols if c not in evo.get("dropped", [])]


def _refuse_if_referenced(evo: dict, name: str, what: str) -> None:
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(name)}\b")
    for c in evo.get("checks", []):
        if pat.search(c["expr"]):
            raise ValueError(
                f"cannot {what} {name!r}: referenced by CHECK "
                f"{c['name']!r} ({c['expr']}) — drop the constraint "
                "first (MariaDB renames inside expressions; this engine "
                "refuses rather than rewriting SQL text)"
            )
    for g in evo.get("generated", []):
        if pat.search(g["expr"]):
            raise ValueError(
                f"cannot {what} {name!r}: referenced by generated "
                f"column {g['name']!r} ({g['expr']})"
            )


def alter_rename_column(path: str, old: str, new: str) -> None:
    """Instant RENAME COLUMN (ALTER TABLE .. RENAME COLUMN / CHANGE —
    mcs87_alter_column.test; the reference's DDLProc updates SYSCOLUMN
    metadata only, dbcon/ddlpackage renames are O(1)): recorded in the
    sidecar, applied on read; materialized (and consumed) by the next
    copy-on-write rewrite or compaction."""
    cols = _logical_columns(path)
    if old not in cols:
        raise ValueError(f"no such column: {old!r}")
    if new in cols:
        raise ValueError(f"column {new!r} already exists")
    evo = _evolution(path)
    _refuse_if_referenced(evo, old, "rename column")
    # a rename of a sidecar-added (not yet materialized) column just
    # rewrites the add entry; physical columns append a rename step
    for c in evo.get("added", []):
        if c["name"] == old:
            c["name"] = new
            break
    else:
        evo.setdefault("renamed", []).append({"from": old, "to": new})
    for g in evo.get("generated", []):
        if g["name"] == old:
            g["name"] = new
    if evo.get("autoinc", {}).get("column") == old:
        evo["autoinc"]["column"] = new
    for key in ("defaults", "collations"):
        if old in evo.get(key, {}):
            evo[key][new] = evo[key].pop(old)
    _write_evolution(path, evo)


def alter_modify_column(path: str, name: str, dtype: str) -> None:
    """Instant MODIFY COLUMN type (ALTER TABLE .. MODIFY — mcs12/mcs87):
    records a read-time cast in the sidecar; the physical files keep the
    old type until the next rewrite materializes it (the reference's
    altertable.cpp likewise defers the data conversion). Spark cast
    semantics apply (overflow → NULL under ANSI-off, the MariaDB
    truncating analogue)."""
    cols = _logical_columns(path)
    if name not in cols:
        raise ValueError(f"no such column: {name!r}")
    evo = _evolution(path)
    _refuse_if_referenced(evo, name, "modify column")
    for c in evo.get("added", []):
        if c["name"] == name:
            c["dtype"] = dtype
            _write_evolution(path, evo)
            return
    retyped = evo.setdefault("retyped", [])
    for r in retyped:
        if r["name"] == name:
            r["dtype"] = dtype
            break
    else:
        retyped.append({"name": name, "dtype": dtype})
    _write_evolution(path, evo)


def read_table_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a table through its evolution sidecar: added columns get
    their declared default where files predate them, dropped columns
    are projected away, renames/retypes/generated columns/collations
    apply on read. Disabled partitions (caldisablepartitions analogue)
    are excluded at the FILE level — their extents are never opened,
    exactly the reference's extent-elimination of disabled partitions.

    The physical schema comes from the table manifest
    (``sources.manifest``), not from the files: a read is a listing of
    the directory checked against the recorded file set, then
    ``spark.read.schema(...)`` — no schema-merge job. When the listing
    does not match (another writer, a swapped directory, a first read)
    the manifest rebuilds first, from the files' footers read in the
    driver, also without a Spark job. While
    neither the files nor the sidecar change, every call returns the
    same DataFrame (``manifest.evolved``)."""
    from mariadb_columnstore_engine_spark.sources import manifest

    evo = _evolution(path)
    return manifest.evolved(
        spark, path, evo, lambda df: _apply_evolution(df, evo)
    )


def _apply_evolution(df: DataFrame, evo: dict) -> DataFrame:
    """The sidecar ``evo`` applied to the physical relation ``df``."""
    import pyspark.sql.functions as F

    for c in evo["added"]:
        if c["name"] not in df.columns:
            df = df.withColumn(
                c["name"], F.lit(c["default"]).cast(c["dtype"])
            )
        elif c["default"] is not None:
            df = df.withColumn(
                c["name"],
                F.coalesce(
                    F.col(c["name"]), F.lit(c["default"]).cast(c["dtype"])
                ),
            )
    # instant renames/retypes: metadata-only on write, projections on
    # read, in ALTER order (a later rename may target an earlier one's
    # result). Files written after a rename carry the new name, older
    # ones the old: each row has one of the two, so they coalesce at
    # whichever position the merged file schema put first.
    for r in evo.get("renamed", []):
        pair = (r["from"], r["to"])
        if all(c in df.columns for c in pair):
            first = min(pair, key=df.columns.index)
            df = df.select(*[
                F.coalesce(*map(F.col, pair)).alias(r["to"])
                if c == first else F.col(c)
                for c in df.columns if c not in pair or c == first
            ])
        else:
            df = df.withColumnRenamed(r["from"], r["to"])
    for r in evo.get("retyped", []):
        df = df.withColumn(r["name"], F.col(r["name"]).cast(r["dtype"]))
    for c in evo.get("generated", []):
        if c["name"] not in df.columns:
            df = df.withColumn(c["name"], F.expr(c["expr"]))
    # declared per-column collations (CREATE TABLE … COLLATE): applied
    # on read so every comparison/grouping/sort over the view runs
    # under the declared ICU collation JVM-side (collation.h analogue;
    # stays inside whole-stage codegen — no UDF)
    for cname, coll in evo.get("collations", {}).items():
        if cname in df.columns:
            df = df.withColumn(cname, F.collate(F.col(cname), coll))
    keep = [c for c in df.columns if c not in evo["dropped"]]
    # ADD COLUMN .. AFTER x / FIRST placements (in ALTER order, so a
    # later ALTER may place relative to an earlier add)
    for c in evo["added"]:
        after = c.get("after")
        if after is None or c["name"] not in keep:
            continue
        keep.remove(c["name"])
        if after == "__first__":
            keep.insert(0, c["name"])
        elif after in keep:
            keep.insert(keep.index(after) + 1, c["name"])
        else:
            keep.append(c["name"])
    return df if keep == df.columns else df.select(*keep)


def strip_collations(df: DataFrame) -> DataFrame:
    """Cast collated string columns back to plain ``string`` for
    storage. Declared collations are a READ-side contract (the sidecar
    applies them on every read); letting them leak into written parquet
    footers makes new files schema-incompatible with the table's
    existing plain-string files (mergeSchema refuses STRING COLLATE X
    vs STRING)."""
    from pyspark.sql.types import StringType

    import pyspark.sql.functions as F

    collated = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, StringType)
        and f.dataType.simpleString() != "string"
    }
    if not collated:
        return df
    return df.select(*[
        F.col(c).cast("string").alias(c) if c in collated else F.col(c)
        for c in df.columns
    ])


def alter_add_generated_column(path: str, name: str, expr_sql: str) -> None:
    """Generated (virtual) column: recorded in the evolution sidecar and
    computed on read from ``expr_sql`` (mysql-test generated_columns
    coverage). The STORED variant is what you get from the next
    ``maintenance.compact_table`` — compaction materializes evolution —
    matching MariaDB's VIRTUAL vs PERSISTENT split."""
    evo = _evolution(path)
    gen = evo.setdefault("generated", [])
    if any(c["name"] == name for c in gen) or any(
        c["name"] == name for c in evo["added"]
    ):
        raise ValueError(f"column {name!r} already exists in sidecar")
    gen.append({"name": name, "expr": expr_sql})
    evo["dropped"] = [c for c in evo["dropped"] if c != name]
    _write_evolution(path, evo)


def add_check_constraint(path: str, name: str, expr_sql: str) -> None:
    """CHECK constraint: recorded in the sidecar; the DML router rejects
    INSERTs whose rows violate it (mysql-test check_constraint coverage).
    SQL semantics: a row passes when the predicate is TRUE or NULL."""
    evo = _evolution(path)
    checks = evo.setdefault("checks", [])
    if any(c["name"] == name for c in checks):
        raise ValueError(f"constraint {name!r} already exists")
    checks.append({"name": name, "expr": expr_sql})
    _write_evolution(path, evo)


def check_violations(df: DataFrame,
                     checks: list[dict]) -> tuple[list[int], int]:
    """Rows of ``df`` that violate each constraint of ``checks``
    (predicate FALSE; NULL passes, per SQL CHECK semantics), and rows
    that violate any. Over a LocalRelation (an ``INSERT … VALUES``) the
    optimizer evaluates the predicates in the driver and no Spark job
    runs; any other source runs one aggregation for all the checks."""
    import functools
    import operator

    import pyspark.sql.functions as F

    names = [f"c{i}" for i in range(len(checks))]
    flags = df.select(*[
        (~F.coalesce(F.expr(c["expr"]), F.lit(True))).alias(n)
        for c, n in zip(checks, names)
    ])
    anyone = functools.reduce(operator.or_, map(F.col, names))
    if _local_plan(flags) is not None:
        rows = flags.where(anyone).collect()
        return [sum(r[n] for r in rows) for n in names], len(rows)
    counts = flags.agg(
        *[F.count_if(F.col(n)) for n in names], F.count_if(anyone)
    ).first()
    return list(counts[:-1]), counts[-1]


def validate_checks(df: DataFrame, checks: list[dict]) -> None:
    """Raise if any row of ``df`` violates any constraint of ``checks``
    (``check_violations``)."""
    if not checks:
        return
    for c, bad in zip(checks, check_violations(df, checks)[0]):
        if bad:
            raise ValueError(
                f"CHECK constraint {c['name']!r} ({c['expr']}) violated "
                f"by {bad} row(s)"
            )
