"""Table maintenance: small-file compaction and layout auditing.

Reference analogue: ColumnStore's storage maintenance jobs — DBRoot
redistribution (writeengine/redistribute/) moves extents between roots
to rebalance, and the extent map keeps allocation coarse (8M rows/extent,
versioning/BRM/extentmap.cpp:6077) precisely so the table never degrades
into tiny fragments. A Parquet lake has the opposite failure mode:
incremental appends (sources/dml.py copy-on-write, streaming sinks)
accumulate many small files, which at 100 TB means scan tasks dominated
by open/seek overhead and useless row-group stats. Compaction is the
maintenance pass that restores the "few large, clustered extents" layout
the reference gets from its allocator.

Scale shape: one ``repartitionByRange`` (when re-clustering) or a
coalescing repartition — a single shuffle sized by target file count.
Compaction is only that transform: it runs through the copy-on-write
step DML uses (``sources.dml._rewrite``), which keeps hive partition
directories, settles the schema-evolution sidecar and commits by
renaming the live directory aside and the new one in (the reference's
redistribution likewise writes through WriteEngine,
writeengine/redistribute/we_redistributecontrol.cpp). On object stores
a table format (Delta/Iceberg) would make that swap atomic via a
manifest commit.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from mariadb_columnstore_engine_spark.sources import dml, manifest


def layout_stats(spark: SparkSession, path: str) -> dict:
    """Small-file audit: the numbers a maintenance scheduler alerts on."""
    sizes = [size for size, _ in manifest._listing(path).values()]
    total = sum(sizes)
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "avg_bytes": total // len(sizes) if sizes else 0,
        "min_bytes": min(sizes) if sizes else 0,
        "max_bytes": max(sizes) if sizes else 0,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
    cluster_by: list[str] | None = None,
) -> dict:
    """Rewrite ``path`` into ~``target_file_mb``-sized files, optionally
    re-clustering (restores row-group min/max selectivity the way the
    reference's extent allocation keeps casual-partitioning stats tight).

    The rewrite is the DML copy-on-write step with a repartitioning
    transform: it materializes pending instant ALTERs, keeps the table's
    partition directories and disabled partitions, writes with the
    session's Parquet codec, and lands in a sibling directory that
    replaces the original by rename. Returns ``{files_before,
    files_after, bytes_before}``.
    """
    before = layout_stats(spark, path)
    n_out = max(1, math.ceil(before["total_bytes"] / (target_file_mb << 20)))

    def transform(df: DataFrame) -> DataFrame:
        if cluster_by:
            return df.repartitionByRange(
                n_out, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        return df.repartition(n_out)

    dml._rewrite(spark, path, transform)
    return {
        "files_before": before["n_files"],
        "files_after": layout_stats(spark, path)["n_files"],
        "bytes_before": before["total_bytes"],
    }


def extent_map(
    spark: SparkSession, path: str, columns: list[str] | None = None
) -> list[dict]:
    """Row-group statistics view — the extent-map / casual-partitioning
    observable (reference: information_schema.columnstore_extents backed
    by versioning/BRM/extentmap.h min/max entries). One dict per
    (file, row_group, column): min, max, null_count, num_rows — read
    from parquet footers via pyarrow, no data scan. ``path`` is a table
    directory or a single Parquet file. This is the tool to audit
    whether ``cluster_by`` actually produced prunable extents."""
    import pyarrow.parquet as pq

    files = (
        {os.path.basename(path): path} if os.path.isfile(path)
        else manifest.partitions(path)
    )
    out: list[dict] = []
    for key, fpath in files.items():
        meta = pq.ParquetFile(fpath).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci, name in enumerate(names):
                if columns and name not in columns:
                    continue
                st = g.column(ci).statistics
                out.append(
                    {
                        "file": key,
                        "row_group": rg,
                        "column": name,
                        "num_rows": g.num_rows,
                        "min": st.min if st and st.has_min_max else None,
                        "max": st.max if st and st.has_min_max else None,
                        "null_count": st.null_count if st else None,
                    }
                )
    return out


def _file_ranges(stats: list[dict], column: str) -> dict[str, tuple]:
    """Partition key → (min, max) of ``column``: the union of the file's
    row-group ranges in ``stats`` (``extent_map`` rows); (None, None)
    when any row group has no min/max, i.e. the range is unknown."""
    ranges: dict[str, tuple] = {}
    for e in stats:
        if e["column"] != column:
            continue
        mn, mx = ranges.get(e["file"], (e["min"], e["max"]))
        if e["min"] is None or e["max"] is None or mn is None or mx is None:
            ranges[e["file"]] = (None, None)
        else:
            ranges[e["file"]] = (min(mn, e["min"]), max(mx, e["max"]))
    return ranges


# ---------------------------------------------------------------------------
# Partition management (ha_mcs_partition.cpp: calshowpartitions /
# caldisablepartitions / calenablepartitions / caldroppartitions;
# udf_calshowpartitions.test). The partition unit here is a data FILE —
# the extent analogue: it has footer min/max (casual partitioning), can
# be excluded from scans without being opened, and can be dropped O(1).
# Partitions are named by ``manifest.partitions``'s key.


def show_partitions(
    spark: SparkSession, path: str, column: str
) -> list[dict]:
    """calshowpartitions('t','col'): one row per data file with the
    column's min/max (from parquet footers, no scan) and its
    Enabled/Disabled status."""
    off = manifest.disabled(path)
    ranges = _file_ranges(extent_map(spark, path, [column]), column)
    out = []
    for key in manifest.partitions(path):
        mn, mx = ranges.get(key, (None, None))
        out.append(
            {
                "partition": key,
                "min": mn,
                "max": mx,
                "status": "Disabled" if key in off else "Enabled",
            }
        )
    return out


def _set_disabled(path: str, keys: set) -> None:
    from mariadb_columnstore_engine_spark.sources.ingest import (
        _evolution,
        _write_evolution,
    )

    evo = _evolution(path)
    if keys:
        evo["disabled_partitions"] = sorted(keys)
    else:
        evo.pop("disabled_partitions", None)
    _write_evolution(path, evo)


def _set_partition_status(
    path: str, partitions: list[str], *, disabled: bool
) -> int:
    missing = [p for p in partitions if p not in manifest.partitions(path)]
    if missing:
        raise ValueError(f"no such partition(s): {missing}")
    cur = manifest.disabled(path)
    _set_disabled(
        path, cur | set(partitions) if disabled else cur - set(partitions)
    )
    return len(partitions)


def disable_partitions(path: str, partitions: list[str]) -> int:
    """caldisablepartitions: mark files invisible to scans and DML.
    O(1) metadata — the files are never opened again until re-enabled."""
    return _set_partition_status(path, partitions, disabled=True)


def enable_partitions(path: str, partitions: list[str]) -> int:
    """calenablepartitions: undo disable_partitions."""
    return _set_partition_status(path, partitions, disabled=False)


def drop_partitions(spark: SparkSession, path: str,
                    partitions: list[str]) -> int:
    """caldroppartitions: physically remove the files (O(1) per file, no
    rewrite of survivors — the reference's extent drop). Refuses to drop
    every file: an empty directory loses the table's schema."""
    files = manifest.partitions(path)
    missing = [p for p in partitions if p not in files]
    if missing:
        raise ValueError(f"no such partition(s): {missing}")
    if len(partitions) >= len(files):
        raise ValueError(
            "cannot drop every partition (schema would be lost); "
            "use TRUNCATE"
        )
    for p in partitions:
        os.remove(files[p])
    _set_disabled(path, manifest.disabled(path) - set(partitions))
    spark.catalog.refreshByPath(path)
    return len(partitions)
