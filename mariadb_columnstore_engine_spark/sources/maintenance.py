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

import pyspark.sql.functions as F
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

    files = [path] if os.path.isfile(path) else [
        os.path.join(path, rel) for rel in manifest._listing(path)
    ]
    out: list[dict] = []
    for fpath in files:
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
                        "file": os.path.basename(fpath),
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
    """File name → (min, max) of ``column``: the union of the file's
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


def show_partitions(
    spark: SparkSession, path: str, column: str
) -> list[dict]:
    """calshowpartitions('t','col'): one row per data file with the
    column's min/max (from parquet footers, no scan) and its
    Enabled/Disabled status."""
    from mariadb_columnstore_engine_spark.sources.ingest import (
        _evolution,
        _live_data_files,
    )

    disabled = set(
        _evolution(path).get("disabled_partitions", [])
    )
    ranges = _file_ranges(extent_map(spark, path, [column]), column)
    out = []
    for f in _live_data_files(path, set()):
        name = os.path.basename(f)
        mn, mx = ranges.get(name, (None, None))
        out.append(
            {
                "partition": name,
                "min": mn,
                "max": mx,
                "status": "Disabled" if name in disabled else "Enabled",
            }
        )
    return out


def _set_partition_status(
    path: str, partitions: list[str], *, disabled: bool
) -> int:

    from mariadb_columnstore_engine_spark.sources.ingest import (
        _evolution,
        _live_data_files,
        _write_evolution,
    )

    known = {
        os.path.basename(f) for f in _live_data_files(path, set())
    }
    missing = [p for p in partitions if p not in known]
    if missing:
        raise ValueError(f"no such partition(s): {missing}")
    evo = _evolution(path)
    cur = set(evo.get("disabled_partitions", []))
    cur = cur | set(partitions) if disabled else cur - set(partitions)
    if cur:
        evo["disabled_partitions"] = sorted(cur)
    else:
        evo.pop("disabled_partitions", None)
    _write_evolution(path, evo)
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

    from mariadb_columnstore_engine_spark.sources.ingest import (
        _evolution,
        _live_data_files,
        _write_evolution,
    )

    all_files = _live_data_files(path, set())
    by_name = {os.path.basename(f): f for f in all_files}
    missing = [p for p in partitions if p not in by_name]
    if missing:
        raise ValueError(f"no such partition(s): {missing}")
    if len(partitions) >= len(all_files):
        raise ValueError(
            "cannot drop every partition (schema would be lost); "
            "use TRUNCATE"
        )
    for p in partitions:
        os.remove(by_name[p])
    evo = _evolution(path)
    cur = set(evo.get("disabled_partitions", [])) - set(partitions)
    if cur:
        evo["disabled_partitions"] = sorted(cur)
    else:
        evo.pop("disabled_partitions", None)
    _write_evolution(path, evo)
    spark.catalog.refreshByPath(path)
    return len(partitions)


# ---------------------------------------------------------------------------
# Extent elimination (TupleBPS casual partitioning: tuple-bps.cpp:507-508
# consults the BRM extent map's per-extent min/max to skip extents whose
# range cannot satisfy the pushed predicate, before any block is read).
# The file analogue: select data files by footer stats, then build the
# scan over the survivors only. Spark's parquet reader already does the
# in-scan complement (row-group skipping from the same footer stats via
# pushed filters); this explicit pass removes files from the plan
# entirely — fewer scan tasks, fewer footer opens on the executors.
#
# Scale note: the footer pass is a DRIVER-side metadata read, O(files).
# That mirrors BRM (the extent map is centralized metadata, not data),
# but at 100 TB the map should be computed once and persisted —
# extent_map()'s output is exactly that relation; pass it in via
# `stats` to skip re-reading footers.


def extent_eliminate(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    stats: list[dict] | None = None,
) -> tuple[list[str], list[str]]:
    """Partition the table's live data files into (kept, skipped) for the
    predicate ``lo <= column <= hi`` (either bound may be None) using
    footer min/max only. A file with no stats for the column is always
    kept (cannot prove it irrelevant — same conservative rule as the
    reference's invalid casual-partitioning ranges)."""

    from mariadb_columnstore_engine_spark.sources.ingest import (
        _evolution,
        _live_data_files,
    )

    disabled = set(_evolution(path).get("disabled_partitions", []))
    live = _live_data_files(path, disabled)
    if stats is None:
        stats = extent_map(spark, path, [column])
    ranges = _file_ranges(stats, column)
    kept, skipped = [], []
    for f in live:
        mn, mx = ranges.get(os.path.basename(f), (None, None))
        dead = (
            mn is not None
            and mx is not None
            and ((lo is not None and mx < lo) or (hi is not None and mn > hi))
        )
        (skipped if dead else kept).append(f)
    return kept, skipped


def scan_extent_eliminated(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    stats: list[dict] | None = None,
) -> DataFrame:
    """Scan with explicit extent elimination: read only the files whose
    footer range can overlap ``[lo, hi]``, then apply the residual
    predicate (footer ranges are necessary, not sufficient). Equivalent
    to ``read + filter`` by construction; cheaper by len(skipped) scan
    tasks."""
    kept, skipped = extent_eliminate(spark, path, column, lo, hi, stats)
    if not kept:
        # Every live file was pruned (predicate fully out of range).
        # spark.read.parquet() with zero paths raises "unable to infer
        # schema"; the correct result is an empty relation with the table
        # schema, so borrow it from a pruned file's footer (skipped files
        # still carry the schema — only their value ranges were dead).
        if not skipped:
            raise ValueError(f"no live data files under {path}")
        return spark.read.parquet(*skipped).limit(0)
    df = spark.read.parquet(*kept)
    c = F.col(column)
    if lo is not None:
        df = df.where(c >= F.lit(lo))
    if hi is not None:
        df = df.where(c <= F.lit(hi))
    return df
