"""Streaming SPRT == batch SPRT for in-order batch decompositions;
the decision latches across micro-batches and later evidence cannot
reopen it."""

from __future__ import annotations

import datetime as dt

from music_streaming_etl_spark.streaming.kpis import start_upsert_stream
from music_streaming_etl_spark.streaming.sprt import sprt_batch, sprt_stream

SCHEMA = "event_id long, user_id long, ts timestamp, event_type string, value double"


def _write_csv(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).option("header", True).csv(path)


def _drain(spark, stream_dir, out, ckpt, threshold=5):
    events = (
        spark.readStream.schema(SCHEMA)
        .option("header", True)
        .csv(stream_dir)
    )
    q = start_upsert_stream(
        sprt_stream(events, threshold=threshold), out, ["event_type"], ckpt
    )
    q.awaitTermination(120)


def test_streaming_sprt_latches_and_matches_batch(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "sprt")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 3, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731

    # 'a': 5 successes in a row -> accept_h1 at n=5 inside batch 1,
    # then batch 2 pushes failures which must NOT reopen the decision
    batch1 = [(i, 1, s(i), "a", 90.0) for i in range(5)] + [
        (10 + i, 2, s(i), "b", 10.0) for i in range(3)  # drifting low
    ]
    batch2 = [(20 + i, 1, s(100 + i), "a", 1.0) for i in range(10)] + [
        (40 + i, 2, s(100 + i), "b", 10.0) for i in range(2)
    ]
    _write_csv(spark, batch1, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    mid = {r["event_type"]: r for r in spark.read.parquet(out).collect()}
    assert mid["a"]["decision"] == "accept_h1"
    assert mid["a"]["n_at_decision"] == 5
    assert mid["b"]["decision"] == "undecided"  # |d|=3 < 5

    _write_csv(spark, batch2, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    got = {
        r["event_type"]: (
            r["n"],
            r["successes"],
            r["decision"],
            r["n_at_decision"],
        )
        for r in spark.read.parquet(out).collect()
    }
    # latched: counts frozen at the decision point despite 10 new rows
    assert got["a"] == (5, 5, "accept_h1", 5)
    # 'b' reaches 5 straight failures -> accept_h0 cross-batch
    assert got["b"][2] == "accept_h0" and got["b"][3] == 5

    want = {
        r["event_type"]: (
            r["n"],
            r["successes"],
            r["decision"],
            r["n_at_decision"],
        )
        for r in sprt_batch(
            spark.createDataFrame(batch1 + batch2, SCHEMA), threshold=5
        ).collect()
    }
    assert got == want
