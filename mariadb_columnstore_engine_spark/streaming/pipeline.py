"""Structured-Streaming wiring for the ``events`` pipeline.

The reference has NO streaming operators (SURVEY §2.10 — pure batch OLAP),
so this module is Spark-native surface: the same event-time expressions
used by plans/events_plans.py (window / session_window), run incrementally
with watermarks. The registry's ``stream_*`` queries
(plans/streaming_plans.py) read events through ``read_event_stream`` and
drain them with ``run_available_now``/``run_available_now_to_dir``, so
the parity gate checks stream(availableNow) == the batch oracle on the
same input — Spark's unified-API guarantee.

Scale notes: watermark + windowed agg keeps state bounded by (watermark
horizon × key cardinality); sessionization state is per-user and merges
windows, the canonical applyInPandasWithState-free path since Spark 3.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Schema for streamed event batches (ts already normalized to TIMESTAMP;
#: streaming readers get plain µs parquet written by our own pipeline, not
#: the driver's nanos fixture).
EVENTS_STREAM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )


def run_available_now(stream_df: DataFrame, *, checkpoint: str,
                      query_name: str) -> None:
    """Drain everything currently in the source into an in-memory sink
    (complete mode) and stop — the batch-parity test harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


#: Spark's bundled on-disk state store (off-heap native memory + local
#: disk, spillable) — the streaming analogue of the reference's
#: disk-backed execution structures (DiskJoinStep / RowAggStorage
#: degrade to disk instead of failing; dbcon/joblist/diskjoinstep.cpp).
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

_STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def run_available_now_to_dir(
    stream_df: DataFrame, *, checkpoint: str, out_dir: str
) -> None:
    """Drain the source and land the COMPLETE result under ``out_dir``
    as parquet, keeping the JVM heap scale-independent where the memory
    sink is not:

    - state goes to RocksDB (off-heap, spills to local disk) instead of
      the heap-resident HDFS-backed map — complete-mode session state
      is O(total sessions), which at sf1 already OOMs a default heap;
    - each trigger's full result is OVERWRITTEN to parquet via
      ``foreachBatch`` (runs on the driver, writes distributed) instead
      of accumulating rows in the in-memory sink.

    Complete-mode-with-overwrite is the HARNESS parity device (every
    session present for the oracle compare); a deployment runs the same
    plan in append mode, where the watermark finalizes sessions
    incrementally and state stays bounded by the horizon.
    """
    spark = stream_df.sparkSession
    try:
        prev = spark.conf.get(_STATE_PROVIDER_CONF)
    except Exception:  # unset in a vanilla session
        prev = None
    spark.conf.set(_STATE_PROVIDER_CONF, ROCKSDB_STATE_PROVIDER)
    try:
        q = (
            stream_df.writeStream.foreachBatch(
                lambda df, _epoch: df.write.mode("overwrite")
                .parquet(out_dir)
            )
            .outputMode("complete")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(_STATE_PROVIDER_CONF)
        else:
            spark.conf.set(_STATE_PROVIDER_CONF, prev)
