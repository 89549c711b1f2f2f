"""Streaming funnel == batch funnel for in-order batch decompositions;
state carries step progress across micro-batches."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from music_streaming_etl_spark.operators.timeseries import funnel_counts
from music_streaming_etl_spark.streaming.funnel import funnel_stream
from music_streaming_etl_spark.streaming.kpis import start_upsert_stream

SCHEMA = "event_id long, user_id long, ts timestamp, event_type string"
STEPS = ["view", "click", "purchase"]


def _write_csv(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").option(
        "header", True
    ).csv(path)


def _drain(spark, stream_dir, out, ckpt):
    events = (
        spark.readStream.schema(SCHEMA).option("header", True).csv(stream_dir)
    )
    fun = funnel_stream(events, STEPS)
    q = start_upsert_stream(fun, out, ["user_id"], ckpt)
    q.awaitTermination(120)


def test_streaming_funnel_matches_batch_across_batches(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "funnel")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)

    batch1 = [
        (1, 1, s(0), "view"), (2, 1, s(10), "click"),
        (3, 2, s(5), "purchase"),            # before any view: no credit
        (4, 3, s(0), "view"), (5, 3, s(0), "click"),  # tie: strict > rejects
        (6, 4, s(0), "view"),
    ]
    batch2 = [
        (7, 1, s(20), "purchase"),           # completes user 1 cross-batch
        (8, 2, s(10), "view"), (9, 2, s(11), "click"), (10, 2, s(12), "purchase"),
        (11, 4, s(30), "click"),             # user 4 advances to step 2
    ]
    _write_csv(spark, batch1, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    _write_csv(spark, batch2, stream_dir)
    _drain(spark, stream_dir, out, ckpt)

    streamed = spark.read.parquet(out)
    got = {
        r["user_id"]: r["steps_reached"] for r in streamed.collect()
    }
    assert got == {1: 3, 2: 3, 3: 1, 4: 2}

    # funnel counts off the sink table == batch twin on all events
    stream_counts = streamed.agg(
        *[
            F.count(F.when(F.col("steps_reached") >= i + 1, F.lit(1)))
            .cast("bigint")
            .alias(f"n_{sname}")
            for i, sname in enumerate(STEPS)
        ]
    ).collect()[0]
    batch_df = spark.createDataFrame(batch1 + batch2, SCHEMA)
    batch_counts = funnel_counts(
        batch_df, "user_id", "ts", "event_type", STEPS
    ).collect()[0]
    for sname in STEPS:
        assert stream_counts[f"n_{sname}"] == batch_counts[f"n_{sname}"]

    # step times recorded exactly
    u1 = {r["user_id"]: r for r in streamed.collect()}[1]
    assert u1["t0"] == s(0) and u1["t1"] == s(10) and u1["t2"] == s(20)
