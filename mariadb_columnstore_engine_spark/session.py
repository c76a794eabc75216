"""SparkSession factory with engine defaults.

The reference engine's ExeMgr + ResourceManager decide at runtime how much
memory a join may use, whether a join side is small enough to broadcast to
every PM, and when to spill (dbcon/joblist/resourcemanager.cpp,
tuplehashjoin.h:503 ``joinIsTooBig``). On Spark those decisions belong to
Catalyst/AQE; our job is only to switch the right knobs on. These defaults
are written for a large multi-executor cluster and degrade gracefully on
local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Engine defaults — every entry is a plain Spark conf so users can override
#: any of them through their own builder or spark-submit --conf.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning replaces the reference's
    # ResourceManager heuristics (broadcast vs UM join vs disk join).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Cost-based optimizer ≈ reference's statistics-guided join ordering
    # (dbcon/joblist/jlf_tuplejoblist.cpp:1607-1850).
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Equi-height histograms on ANALYZE ... FOR COLUMNS ≈ the reference's
    # MCV/histogram column stats (utils/common/statistics.h:44-129).
    # Costs one extra scan per ANALYZE, which is already an explicit op.
    "spark.sql.statistics.histogram.enabled": "true",
    # Broadcast threshold ≈ PM-join small-side limit
    # (primitives/primproc/batchprimitiveprocessor.h:311-319).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scan: pushdown + vectorized reader ≈ ColumnCommand SIMD
    # kernels + casual-partitioning extent elimination
    # (primitives/linux-port/column.cpp, dbcon/joblist/lbidlist.cpp:698).
    # Runtime join-derived scan filtering ≈ the reference's runtime
    # casual-partitioning flags (dbcon/joblist/tuple-bps.cpp:507-508
    # runtimeCPFlags: small-side min/max from a join pushed into the
    # large-side scan): Spark injects a bloom filter from the filtered
    # build side into the probe-side scan.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.recordLevelFilter.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Arrow for any Python-side exchange (pandas UDFs = the UDF SDK path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The reference stores naive (no-tz) datetimes; pin UTC so TimestampType
    # never shifts values between writers and readers.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as int64 nanos and
    # convert explicitly (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Turn full-precision decimal ops on (reference supports DECIMAL(38)
    # via int128, datatypes/mcs_int128.h:56).
    "spark.sql.decimalOperations.allowPrecisionLoss": "false",
    # PySpark 4's DataFrame-debugging hook wraps EVERY DataFrame/Column
    # API call to capture the Python call site and ship it to the JVM
    # (PySparkCurrentOrigin.set/clear = 2 extra py4j round trips per
    # call). That is error-message enrichment, not semantics; on a
    # query engine issuing hundreds of calls per plan it is pure
    # driver-side construction overhead — measured 30-45% of plan-build
    # time (q1 0.156->0.090 s, bruteforce 0.122->0.073 s per build,
    # r12 change 12). Any driver at any scale pays it; off by default
    # here, overridable like every other entry.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Long-lived sessions run thousands of statements; the SQL UI's
    # default retention (1000 executions, each holding full plan strings
    # and per-stage metrics) grows driver heap without bound and can OOM
    # a small driver mid-run. Keep a short history only.
    "spark.sql.ui.retainedExecutions": "50",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "1000",
    # Compile once, run many (the reference compiles a statement into a
    # JobList once; PrimProc then runs precompiled block primitives).
    # Whole-stage codegen classes live in one JVM-wide cache of 100
    # entries by default, far below a long-lived engine's repertoire:
    # the 11 olap_headline queries compile 203 classes, the whole
    # 213-query registry 2,104. A recurring workload cycles through
    # more than 100 classes, so each is evicted before its next use and
    # every pass recompiled 136-186 classes in Janino (~10 ms each) and
    # ran them interpreted until the JIT warmed up again (sf0.1,
    # local[4]). 4096 holds the whole registry twice over, with room
    # for the 2 single-use classes each DML statement compiles (Spark
    # inlines primitive literals into generated code). Cost: about
    # +14 MB metaspace and +10 MB JIT code heap. Launch-time conf;
    # only effective on the process's first session.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # JDK-17 G1 GCLocker workaround: a large allocation (e.g. a 128 MB
    # broadcast-build array) retries only twice by default while JNI
    # critical sections (Arrow/Parquet native buffers) hold the GCLocker,
    # then fails as spurious OOM ("Not enough memory to build and
    # broadcast") with tens of GB actually free — seen on sf1 runs whose
    # plans mix parquet scans with a ~64 MB broadcast. Launch-time conf;
    # only effective on the process's first session.
    "spark.driver.extraJavaOptions": (
        "-XX:+UnlockDiagnosticVMOptions "
        "-XX:GCLockerRetryAllocationCount=64"
    ),
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(int(cpus), 1)
    return os.cpu_count() or 8


def configure(
    builder: SparkSession.Builder,
    *,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Apply engine defaults onto an existing builder."""
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    n = shuffle_partitions or _default_parallelism()
    return builder.config("spark.sql.shuffle.partitions", str(n))


def get_session(
    app_name: str = "mcs-spark",
    master: str | None = None,
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{_default_parallelism()}]"
    builder = builder.master(master)
    if master.startswith("local") and not (
        extra_conf and "spark.driver.memory" in extra_conf
    ):
        # In local mode the driver JVM hosts every executor thread too;
        # the 1g default dies on long test/bench runs. Launch-time conf —
        # only effective on the first session of the process.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    builder = configure(builder, shuffle_partitions=shuffle_partitions)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
