"""Streaming CUSUM == batch CUSUM for in-order batch decompositions;
state carries the exact-integer recurrence across micro-batches and
alerts fire live."""

from __future__ import annotations

import datetime as dt

from music_streaming_etl_spark.streaming.cusum import (
    cusum_batch,
    cusum_stream,
)
from music_streaming_etl_spark.streaming.kpis import start_upsert_stream

SCHEMA = "event_id long, user_id long, ts timestamp, event_type string, value double"
K_CENTS = 5000  # reference level $50.00
H_CENTS = 20000  # alert threshold $200.00


def _write_csv(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).option("header", True).csv(path)


def _drain(spark, stream_dir, out, ckpt):
    events = (
        spark.readStream.schema(SCHEMA)
        .option("header", True)
        .csv(stream_dir)
    )
    cus = cusum_stream(events, K_CENTS, H_CENTS)
    q = start_upsert_stream(cus, out, ["event_type"], ckpt)
    q.awaitTermination(120)


def test_streaming_cusum_matches_batch_across_batches(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "cusum")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731

    # 'play': values hover around the $50 reference -> no alert.
    # 'purchase': sustained +$120 drift -> upper CUSUM alert by batch 2.
    batch1 = [
        (1, 1, s(0), "play", 49.00),
        (2, 1, s(10), "play", 52.00),
        (3, 2, s(5), "purchase", 170.00),
        (4, 2, s(15), "purchase", 170.00),
        (5, 3, s(20), "play", 47.50),
    ]
    batch2 = [
        (6, 1, s(30), "play", 51.25),
        (7, 2, s(40), "purchase", 170.00),  # crosses +$200 cumulative
        (8, 3, s(50), "play", 50.00),
        (9, 4, s(60), "skip", 1.00),  # sustained negative drift key
        (10, 4, s(70), "skip", 1.00),
    ]
    _write_csv(spark, batch1, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    mid = {
        r["event_type"]: r for r in spark.read.parquet(out).collect()
    }
    # after batch 1: purchase at +2*(17000-5000)=24000 > h -> alert live
    assert mid["purchase"]["cusum_pos"] == 24000
    assert mid["purchase"]["alert"] is True
    assert mid["play"]["alert"] is False

    _write_csv(spark, batch2, stream_dir)
    _drain(spark, stream_dir, out, ckpt)

    streamed = spark.read.parquet(out)
    allrows = batch1 + batch2
    batch_df = cusum_batch(
        spark.createDataFrame(allrows, SCHEMA), K_CENTS, H_CENTS
    )
    got = {
        r["event_type"]: (r["n"], r["cusum_pos"], r["cusum_neg"], r["alert"])
        for r in streamed.collect()
    }
    want = {
        r["event_type"]: (r["n"], r["cusum_pos"], r["cusum_neg"], r["alert"])
        for r in batch_df.collect()
    }
    assert got == want  # exact integer state: bit-for-bit across batches
    assert got["purchase"][3] is True  # sustained upward drift alerts
    assert got["play"][3] is False  # on-reference traffic stays quiet


def test_streaming_cusum_random_decomposition_equivalence(spark, tmp_path):
    """Any in-order split of a random stream reproduces the batch
    computation exactly (the integer-state guarantee)."""
    import random

    rng = random.Random(31)
    t0 = dt.datetime(2024, 2, 1)
    rows = [
        (
            i,
            i % 5,
            t0 + dt.timedelta(seconds=i * 7),
            rng.choice(["a", "b", "c"]),
            round(rng.uniform(0, 120), 2),
        )
        for i in range(120)
    ]
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "cusum")
    ckpt = str(tmp_path / "ckpt")
    # three uneven in-order chunks
    for chunk in (rows[:50], rows[50:70], rows[70:]):
        _write_csv(spark, chunk, stream_dir)
        _drain(spark, stream_dir, out, ckpt)
    got = {
        r["event_type"]: (r["n"], r["cusum_pos"], r["cusum_neg"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = cusum_batch(
        spark.createDataFrame(rows, SCHEMA), K_CENTS, H_CENTS
    )
    want = {
        r["event_type"]: (r["n"], r["cusum_pos"], r["cusum_neg"])
        for r in batch_df.collect()
    }
    assert got == want
