"""Structured-Streaming drain helpers: stream(availableNow) == batch on
the same input, for windowed counts and sessionization, through the
in-memory sink and landed on disk."""

from __future__ import annotations

import pyspark.sql.functions as F

from mariadb_columnstore_engine_spark.catalog import Catalog
from mariadb_columnstore_engine_spark.streaming import pipeline


def _stage_events(spark, sf_dir, tmp_path) -> str:
    """Write the fixture events (ts normalized to µs) as a streamable dir."""
    src = str(tmp_path / "events_stream_src")
    Catalog(spark, sf_dir).events.repartition(4).write.parquet(src)
    return src


def _sessions(stream):
    """Gap-based (30 min) sessions per user over a watermarked stream."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def test_stream_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    src = _stage_events(spark, sf_dir, tmp_path)
    stream = (
        pipeline.read_event_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    pipeline.run_available_now(
        stream,
        checkpoint=str(tmp_path / "ckpt_win"),
        query_name="win_counts",
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    expected_df = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in expected_df.collect()
    }
    assert got == expected


def test_stream_sessionization_runs(spark, sf_dir, tmp_path):
    src = _stage_events(spark, sf_dir, tmp_path)
    stream = _sessions(pipeline.read_event_stream(spark, src))
    pipeline.run_available_now(
        stream,
        checkpoint=str(tmp_path / "ckpt_sess"),
        query_name="sessions",
    )
    rows = spark.sql(
        "SELECT count(*) AS n, sum(n_events) AS tot FROM sessions"
    ).collect()[0]
    n_events = spark.read.parquet(src).count()
    assert rows.tot == n_events, "every event must land in exactly 1 session"
    assert rows.n > 0


def test_run_available_now_to_dir_disk_sink_and_conf_restore(
    spark, sf_dir, tmp_path
):
    """r12: the disk-sink drain helper must (a) land the complete
    result as parquet matching the batch answer, (b) run under the
    RocksDB state provider, and (c) restore the session's provider
    conf afterwards — it executes inside the SHARED engine session."""
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    sentinel = "org.apache.spark.sql.execution.streaming.state." \
        "HDFSBackedStateStoreProvider"
    spark.conf.set(conf_key, sentinel)
    try:
        src = _stage_events(spark, sf_dir, tmp_path)
        stream = _sessions(pipeline.read_event_stream(spark, src))
        out = str(tmp_path / "sess_out")
        pipeline.run_available_now_to_dir(
            stream,
            checkpoint=str(tmp_path / "ckpt_sess_dir"),
            out_dir=out,
        )
        assert spark.conf.get(conf_key) == sentinel  # restored
        got = spark.read.parquet(out)
        expected = (
            spark.read.parquet(src)
            .groupBy(
                F.session_window("ts", "30 minutes").alias("s"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                "n_events",
            )
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect()))
    finally:
        spark.conf.unset(conf_key)
