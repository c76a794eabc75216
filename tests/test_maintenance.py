"""Small-file compaction / layout audit (sources/maintenance.py).

Reference analogue: DBRoot redistribution + coarse extent allocation
(writeengine/redistribute/, versioning/BRM/extentmap.cpp) keep the
reference's layout scan-friendly; compaction is the Parquet-lake
equivalent. The invariant under test: compaction changes ONLY the file
layout — never row count, schema, or values.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from mariadb_columnstore_engine_spark.sources import maintenance, manifest


def _fingerprint(df):
    """Order-insensitive content hash over every row and column."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in df.columns]
    return (
        df.select(F.md5(F.concat_ws("\x01", *cols)).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 6), 16, 10).cast("long")))
        .collect()[0][0]
    )


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    dest = str(tmp_path / "frag")
    df = spark.range(0, 20_000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
    )
    # simulate incremental-append fragmentation: 40 tiny files
    df.repartition(40).write.parquet(dest)
    before = maintenance.layout_stats(spark, dest)
    assert before["n_files"] == 40

    fp_before = _fingerprint(spark.read.parquet(dest))
    result = maintenance.compact_table(spark, dest, target_file_mb=128)
    after = maintenance.layout_stats(spark, dest)

    assert result["files_before"] == 40
    assert result["files_after"] == after["n_files"] == 1
    compacted = spark.read.parquet(dest)
    assert compacted.count() == 20_000
    assert _fingerprint(compacted) == fp_before
    # the swap leaves no temp or pre-image sibling behind
    assert os.listdir(tmp_path) == ["frag"]


def test_compact_cluster_by_restores_pruning_stats(spark, tmp_path):
    dest = str(tmp_path / "clustered")
    df = spark.range(0, 400_000).select(
        (F.col("id") * 37 % 400_000).alias("k"),  # scrambled key
        F.col("id").alias("payload"),
    )
    df.repartition(8).write.parquet(dest)
    maintenance.compact_table(
        spark, dest, target_file_mb=1, cluster_by=["k"]
    )
    files = manifest._listing(dest)
    assert len(files) >= 2  # 1 MB target splits the rewrite
    # range-clustered files must have disjoint [min,max] key ranges —
    # that is exactly what makes row-group/file skipping selective
    ranges = []
    for rel in files:
        mn, mx = (
            spark.read.parquet(os.path.join(dest, rel))
            .agg(F.min("k"), F.max("k")).collect()[0]
        )
        ranges.append((mn, mx))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo


def test_compact_materializes_schema_evolution(spark, tmp_path):
    import os

    from mariadb_columnstore_engine_spark.sources import ingest

    dest = str(tmp_path / "evolved")
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v").repartition(
        5
    ).write.parquet(dest)
    ingest.alter_add_column(dest, "flag", "int", 7)
    ingest.alter_drop_column(dest, "v")
    maintenance.compact_table(spark, dest, target_file_mb=128)
    # added/dropped debt settled physically ...
    df = spark.read.parquet(dest)
    assert set(df.columns) == {"id", "flag"}
    assert df.where(F.col("flag") == 7).count() == 1000
    # ... but the DEFAULT persists as column metadata (MariaDB keeps the
    # default after any rewrite) — future INSERT paths read it here
    evo = ingest._evolution(dest)
    assert evo["added"] == [] and evo["dropped"] == []
    assert evo.get("defaults") == {"flag": 7}


def test_compact_preserves_partitioning(spark, tmp_path):
    dest = str(tmp_path / "parted")
    spark.range(0, 5_000).selectExpr(
        "id", "id % 4 AS shard"
    ).repartition(10).write.partitionBy("shard").parquet(dest)
    maintenance.compact_table(spark, dest, target_file_mb=128)
    df = spark.read.parquet(dest)
    assert df.count() == 5_000
    # directory layout survived -> partition pruning still plans
    pruned = df.where(F.col("shard") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan


def test_compact_then_insert_on_collated_table(spark, sf_dir, tmp_path):
    """Compaction writes plain strings like every other writer: the
    declared collation stays a read-side contract, so a later INSERT
    merges with the compacted files and a fresh read still works."""
    from mariadb_columnstore_engine_spark.engine import Engine
    from mariadb_columnstore_engine_spark.sources.ingest import (
        read_table_evolved,
    )

    os.makedirs(str(tmp_path / "wh"), exist_ok=True)
    eng = Engine(spark, sf_dir, warehouse=str(tmp_path / "wh"))
    eng.execute(
        "CREATE TABLE cc (id INT, seg VARCHAR(20) COLLATE utf8mb4_unicode_ci)"
    )
    eng.execute("INSERT INTO cc VALUES (1, 'Auto'), (2, 'AUTO')")
    path = eng._user_tables["cc"]["path"]
    maintenance.compact_table(spark, path)
    eng.execute("INSERT INTO cc VALUES (3, 'auto'), (4, 'Bike')")
    assert eng.execute(
        "SELECT count(*) AS n FROM cc WHERE seg = 'AUTO'"
    ).collect()[0].n == 3
    manifest.forget(path)
    assert read_table_evolved(spark, path).count() == 4


def test_extent_map_shows_clustered_minmax(spark, tmp_path):
    """cluster_by must yield disjoint per-row-group min/max — the
    casual-partitioning contract, observable without scanning data."""
    from mariadb_columnstore_engine_spark.sources.ingest import write_parquet

    dest = str(tmp_path / "ext")
    df = spark.range(0, 100_000).selectExpr(
        "(id * 37) % 100000 AS k", "id AS payload"
    )
    write_parquet(df.repartition(4), dest, cluster_by=["k"])
    ext = maintenance.extent_map(spark, dest, columns=["k"])
    assert ext and all(e["min"] is not None for e in ext)
    spans = sorted((e["min"], e["max"]) for e in ext)
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo  # disjoint → row-group pruning is selective
    assert sum(e["num_rows"] for e in ext) == 100_000


def test_compact_retains_checks_and_generated(spark, tmp_path):
    """Compaction settles only the added/dropped debt. CHECK constraints
    (not materializable) and generated-column expressions (PERSISTENT
    still computes on insert) must survive in a fresh sidecar."""
    from mariadb_columnstore_engine_spark.sources import ingest

    dest = str(tmp_path / "evolved_cg")
    spark.range(0, 100).selectExpr("id", "id * 2.0 AS v").repartition(
        4
    ).write.parquet(dest)
    ingest.alter_add_column(dest, "flag", "int", 7)
    ingest.alter_add_generated_column(dest, "v_sq", "v * v")
    ingest.add_check_constraint(dest, "v_nonneg", "v >= 0")
    maintenance.compact_table(spark, dest, target_file_mb=128)
    # added-column debt settled physically...
    df = spark.read.parquet(dest)
    assert df.where(F.col("flag") == 7).count() == 100
    # ...but checks still enforceable and generated still declarative
    evo = ingest._evolution(dest)
    assert [c["name"] for c in evo.get("checks", [])] == ["v_nonneg"]
    assert [g["name"] for g in evo.get("generated", [])] == ["v_sq"]
    # reads still produce the generated column (whether from stored
    # values or the expression) and it tracks v
    got = ingest.read_table_evolved(spark, dest)
    row = got.where(F.col("id") == 3).collect()[0]
    assert row.v_sq == row.v * row.v
