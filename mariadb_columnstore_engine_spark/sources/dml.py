"""Row DML (UPDATE / DELETE) as copy-on-write over Parquet.

Reference analogue: DMLProc's UPDATE/DELETE processors with the MVCC
version buffer for rollback (dbcon/dmlpackageproc/updatepackageprocessor
.cpp, deletepackageprocessor.cpp; VSS lookup versioning/BRM/dbrm.h:
164-199). A batch columnar engine on Parquet has no in-place row
mutation, so DML is copy-on-write: read → transform → write-new → swap —
the same model Delta/Iceberg implement with manifest atomicity. Here the
swap is a directory rename (atomic on a single POSIX filesystem; on
object stores you would layer a table format for the commit protocol —
the transform logic is unchanged). ``_rewrite`` is the only code that
rewrites a table directory: compaction (``sources.maintenance``) hands
it a repartitioning transform, and ``swap`` is the only code that
renames one, which ROLLBACK uses too.

Table state comes from the manifest (``sources.manifest``), the extent
map analogue: the rewrite reads through ``read_table_evolved`` with the
recorded physical schema (no schema-merge job), and after the swap it
records the new file set from the footers it just wrote — their row
counts give the statement's return value and their Spark schema the
table's next read schema, so a DELETE or UPDATE runs one Spark job, the
write. Every manifest use checks the recorded file set against a
listing of the directory; anything else that changes the directory
(another process, ROLLBACK) makes the next use rebuild the
state from the files' footers, read in the driver without a Spark job,
so correctness never depends on a writer remembering to record.

Scale notes: the rewrite is a full scan + write of affected data only if
you partition wisely — pass ``partition_filter`` to rewrite only the
hive partitions that can contain matches (partition pruning bounds the
copy-on-write cost exactly like the reference's extent-targeted DML).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession

from mariadb_columnstore_engine_spark.sources import manifest


def _as_bool(predicate: Column) -> Column:
    """SQL three-valued predicate → two-valued row selector.

    A WHERE predicate that evaluates to NULL selects nothing, but
    ``df.where(~predicate)`` also drops NULL rows — so an ungated
    complement split loses NULL-predicate rows from BOTH branches.
    Coalescing to FALSE makes the TRUE/complement split exhaustive.
    """
    import pyspark.sql.functions as F

    return F.coalesce(predicate, F.lit(False))


#: sidecar keys holding instant-ALTER debt that a rewrite materializes
_DEBT = ("added", "dropped", "renamed", "retyped")


def swap(new: str, path: str) -> None:
    """Commit directory ``new`` as ``path``: the live directory is
    renamed aside, ``new`` renamed in, then the old one removed, so no
    step deletes the live table before its replacement is in place.
    The only place a table directory is renamed — copy-on-write DML,
    compaction and ROLLBACK all commit through it."""
    old = f"{new.rstrip('/')}__old"
    os.rename(path, old)
    os.rename(new, path)
    shutil.rmtree(old)


def _settled(evo: dict) -> dict:
    """The sidecar once a rewrite has materialized its instant-ALTER
    debt: the consumed keys go, every other key (CHECKs, generated
    columns, collations, AUTO_INCREMENT, disabled partitions) stays."""
    # an ALTER-ADD default keeps applying to FUTURE inserts after the
    # column itself is materialized (MariaDB: the default is column
    # metadata, not backfill) — migrate it into the 'defaults' map
    defaults = {
        c["name"]: c["default"]
        for c in evo.get("added", [])
        if c.get("default") is not None
    }
    defaults.update(evo.get("defaults", {}))
    # renames are materialized by this rewrite (files now carry the new
    # names) — re-key any default that referenced the old spelling
    for r in evo.get("renamed", []):
        if r["from"] in defaults:
            defaults[r["to"]] = defaults.pop(r["from"])
    kept = {k: v for k, v in evo.items() if k not in _DEBT}
    return {**kept, "added": [], "dropped": [], "defaults": defaults}


def _rewrite(spark: SparkSession, path: str, transform,
             partition_filter: Column | None = None,
             alias: str | None = None) -> int:
    """The one copy-on-write step behind every rewrite of a table
    directory (the DML below and ``maintenance.compact_table``); returns
    the new visible row count (the written files' footer row counts,
    disabled partitions aside).

    Reads through the schema-evolution sidecar (read_table_evolved), so
    transforms see the LOGICAL schema — instant-ALTER-added and generated
    columns included — and the rewrite materializes that debt into the
    new files. The new directory keeps the table's hive partition
    directories, uses the session's Parquet codec, stores plain strings
    (collations are a read-side contract), carries disabled partitions
    byte-wise and holds the settled sidecar before the swap, so one
    rename commits data and metadata together.
    """
    import pyspark.sql.functions as F

    from mariadb_columnstore_engine_spark.sources.ingest import (
        _evolution,
        _write_evolution,
        read_table_evolved,
        strip_collations,
    )

    evo = _evolution(path)
    if evo.get("disabled_partitions") and any(evo.get(k) for k in _DEBT):
        # the rewrite would materialize instant-ALTER debt for enabled
        # files only, leaving disabled files with a schema the consumed
        # sidecar can no longer describe — same reason the reference
        # blocks DDL/DML interplay with disabled partitions
        raise ValueError(
            "table has disabled partitions AND pending instant-ALTER "
            "debt; calenablepartitions first, then rerun the statement"
        )
    listing = manifest._listing(path)
    df = read_table_evolved(spark, path)
    if alias:
        # correlated subqueries in predicates (WHERE EXISTS (... WHERE
        # x = t.col)) need the target relation addressable by its table
        # name, exactly as the SQL text spells it
        df = df.alias(alias)
    if partition_filter is not None:
        untouched = df.where(~_as_bool(partition_filter))
        scoped = df.where(_as_bool(partition_filter))
    else:
        untouched = None
        scoped = df
    out = transform(scoped)
    if untouched is not None:
        out = out.unionByName(untouched)
    # PERSISTENT generated-column semantics: recompute from the (possibly
    # updated) base columns — a stored stale value must not survive an
    # UPDATE of its inputs
    for g in evo.get("generated", []):
        out = out.withColumn(g["name"], F.expr(g["expr"]))
    out = strip_collations(out)
    # the table's own k=v directories name its hive partition columns;
    # writing without them would flatten the layout and lose pruning
    parts = [
        d.split("=", 1)[0]
        for d in os.path.dirname(next(iter(listing), "")).split(os.sep)
        if "=" in d
    ]
    tmp = f"{path.rstrip('/')}__cow_{uuid.uuid4().hex[:8]}"
    (out.write.partitionBy(*parts) if parts else out.write).parquet(tmp)
    # Spark's writer always leaves task 0's file, also when its scan
    # split held no row group; drop empty files, keeping one when no row
    # is left so the schema survives
    written = list(manifest._listing(tmp))
    empty = [rel for rel in written
             if manifest._footer(os.path.join(tmp, rel))[0] == 0]
    for rel in empty[:len(empty) - (len(empty) == len(written))]:
        os.remove(os.path.join(tmp, rel))
    # disabled partitions are invisible to queries AND to DML (the
    # reference blocks DML/import on them) — read_table_evolved excluded
    # their files above, so carry them through the swap byte-wise or the
    # copy-on-write would silently destroy them
    disabled = set(evo.get("disabled_partitions", []))
    for rel in listing:
        if rel in disabled:
            dst = os.path.join(tmp, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(os.path.join(path, rel), dst)
    if parts and not manifest._listing(tmp):
        # a partitioned write of no rows leaves no file to hold the
        # schema (and no disabled file was carried); write one empty
        # flat file
        spark.createDataFrame([], out.schema).write.mode(
            "overwrite"
        ).parquet(tmp)
    settled = _settled(evo)
    if any(settled.values()):
        _write_evolution(tmp, settled)
    swap(tmp, path)
    # the swapped directory invalidates cached relations over its files
    spark.catalog.refreshByPath(path)
    return manifest.record(spark, path).live_rows


def delete_where(spark: SparkSession, path: str, predicate: Column,
                 *, partition_filter: Column | None = None,
                 alias: str | None = None) -> int:
    """DELETE FROM <path> WHERE predicate (copy-on-write).

    SQL DELETE removes only predicate=TRUE rows; rows where the predicate
    is NULL (e.g. ``col = x`` on a NULL col) are KEPT.
    """
    return _rewrite(
        spark, path, lambda df: df.where(~_as_bool(predicate)),
        partition_filter, alias,
    )


def update_where(
    spark: SparkSession,
    path: str,
    predicate: Column,
    assignments: dict[str, Column],
    *,
    partition_filter: Column | None = None,
    alias: str | None = None,
) -> int:
    """UPDATE <path> SET col=expr, ... WHERE predicate (copy-on-write).

    ``assignments`` maps column name → new-value expression; non-matching
    rows keep their values (CASE WHEN predicate THEN new ELSE old END).
    """
    import pyspark.sql.functions as F

    def transform(df: DataFrame) -> DataFrame:
        out = df
        for col_name, new_val in assignments.items():
            out = out.withColumn(
                col_name,
                F.when(predicate, new_val).otherwise(F.col(col_name)),
            )
        return out

    return _rewrite(spark, path, transform, partition_filter, alias)


def _require_unique_keys(new_rows: DataFrame, keys: list[str],
                         what: str) -> None:
    # MariaDB applies multi-row upserts sequentially (last write wins
    # row-by-row); a distributed engine has no row order, so demand
    # key-unique input instead of silently picking a winner
    n, nd = new_rows.select(
        *(keys)
    ).count(), new_rows.select(*keys).distinct().count()
    if n != nd:
        raise ValueError(
            f"{what}: new_rows contain {n - nd} duplicate key tuples over "
            f"{keys}; dedupe first — sequential last-write-wins is not "
            "reproducible on a distributed engine"
        )


def replace_into(spark: SparkSession, path: str, new_rows: DataFrame,
                 keys: list[str]) -> int:
    """MariaDB REPLACE INTO (copy-on-write): any existing row sharing a
    new row's key tuple is deleted, then the new rows are inserted —
    delete-then-insert, the documented REPLACE algorithm (the reference
    routes it through DMLProc delete+insert packages the same way)."""
    _require_unique_keys(new_rows, keys, "replace_into")

    def transform(df: DataFrame) -> DataFrame:
        kept = df.join(new_rows.select(*keys), keys, "left_anti")
        return kept.unionByName(new_rows.select(*df.columns))

    return _rewrite(spark, path, transform, None)


def upsert_into(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    keys: list[str],
    *,
    update_cols: list[str] | None = None,
) -> int:
    """MariaDB INSERT ... ON DUPLICATE KEY UPDATE (copy-on-write):
    existing rows matching a new row's key get ``update_cols`` (default:
    every non-key column) overwritten from the new row; new rows with
    unmatched keys are appended. Unlike REPLACE, untouched columns of a
    matched row SURVIVE — the semantic difference the two statements
    exist to express.

    ``update_cols`` entries are plain column names (take the new value)
    or ``(col, expr_sql)`` tuples for general update expressions
    (dml.y update_expr): ``expr_sql`` may reference the existing row's
    columns by name and the incoming row's values as ``_new_<col>``
    (e.g. ``c = c + VALUES(c)`` arrives as ``("c", "c + _new_c")``).
    Assignments apply left to right and later expressions see earlier
    assignments' results — MariaDB's documented evaluation order."""
    import pyspark.sql.functions as F

    _require_unique_keys(new_rows, keys, "upsert_into")

    def transform(df: DataFrame) -> DataFrame:
        entries = update_cols or [
            c for c in new_rows.columns if c not in keys
        ]
        # every inserted non-key value rides the join as _new_<col>: a
        # general expression may reference VALUES(x) of ANY column, not
        # just its own assignment target
        carry = [c for c in new_rows.columns if c not in keys]
        marked = new_rows.select(
            *keys,
            F.lit(True).alias("_upd"),
            *[F.col(c).alias(f"_new_{c}") for c in carry],
        )
        out = df.join(marked, keys, "left")
        for entry in entries:
            if isinstance(entry, tuple):
                c, expr_sql = entry
                newval = F.expr(expr_sql)
            else:
                c, newval = entry, F.col(f"_new_{entry}")
            out = out.withColumn(
                c,
                F.when(F.col("_upd"), newval).otherwise(F.col(c)),
            )
        out = out.select(*df.columns)
        appended = new_rows.join(df.select(*keys), keys, "left_anti")
        return out.unionByName(appended.select(*df.columns))

    return _rewrite(spark, path, transform, None)


def snapshot_tree(src: str, dst: str) -> None:
    """Cheap pre-image snapshot of a table directory for transaction
    rollback (reference analogue: the BRM version buffer keeping block
    pre-images for ROLLBACK — versioning/BRM/dbrm.h:164-199,
    dbcon/dmlpackageproc rollback paths).

    Data files (.parquet/.orc) are HARDLINKED, not copied — the engine
    never modifies them in place (copy-on-write DML unlinks and replaces
    whole directories), so a link is a zero-copy pre-image, the same
    trick the version buffer plays with block references. Small metadata
    files (the evolution sidecar, _SUCCESS markers) ARE copied byte-wise,
    so the pre-image never shares an inode with a file a later statement
    may replace. ``Engine.begin`` takes one per table and
    ``Engine.rollback`` swaps it back in with ``swap``. On an object
    store, swap this for the table-format snapshot.
    """
    import shutil

    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(troot, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(troot, f)
            if f.endswith((".parquet", ".orc")):
                try:
                    os.link(s, d)
                    continue
                except OSError:
                    pass  # cross-device etc. — fall through to copy
            shutil.copy2(s, d)
