"""Streamed daily rollup == batch daily aggregate, late data replaces
rather than duplicates, and the monthly re-aggregation runs unchanged
on the streamed table."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from music_streaming_etl_spark.operators.rollup import reaggregate
from music_streaming_etl_spark.streaming.rollup import (
    daily_rollup_stream,
    start_daily_rollup_sink,
)

SCHEMA = "user_id int, kind string, ts timestamp, amount double"


def _write_csv(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").option(
        "header", True
    ).csv(path)


def _drain(spark, stream_dir, out, ckpt):
    events = (
        spark.readStream.schema(SCHEMA).option("header", True).csv(stream_dir)
    )
    daily = daily_rollup_stream(events, "ts", ["kind"], "amount")
    q = start_daily_rollup_sink(daily, out, ckpt, ["kind"])
    q.awaitTermination(120)


def test_streamed_rollup_matches_batch_and_reaggregates(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "daily")
    ckpt = str(tmp_path / "ckpt")
    d1 = dt.datetime(2024, 5, 30, 9, 0)
    d2 = dt.datetime(2024, 5, 31, 9, 0)
    d3 = dt.datetime(2024, 6, 1, 9, 0)

    batch1 = [
        (1, "a", d1, 10.0),
        (2, "a", d1.replace(hour=23), 5.0),
        (3, "b", d2, 7.0),
    ]
    _write_csv(spark, batch1, stream_dir)
    _drain(spark, stream_dir, out, ckpt)

    got1 = {
        (r.bucket.date(), r.kind): (r.total_value, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {
        (dt.date(2024, 5, 30), "a"): (15.0, 2),
        (dt.date(2024, 5, 31), "b"): (7.0, 1),
    }

    # late row for May 30 + first June row: the touched day must be
    # REPLACED with new full totals, untouched days left alone
    _write_csv(spark, [(4, "a", d1.replace(hour=12), 2.5), (5, "a", d3, 1.0)], stream_dir)
    _drain(spark, stream_dir, out, ckpt)

    daily = spark.read.parquet(out)
    got2 = {
        (r.bucket.date(), r.kind): (r.total_value, r.n_events)
        for r in daily.collect()
    }
    assert got2 == {
        (dt.date(2024, 5, 30), "a"): (17.5, 3),
        (dt.date(2024, 5, 31), "b"): (7.0, 1),
        (dt.date(2024, 6, 1), "a"): (1.0, 1),
    }

    # the streamed table feeds the SAME batch re-aggregation
    monthly = {
        (r.bucket.date(), r.kind): (r.total_value, r.n_events)
        for r in reaggregate(
            daily, "month", ["kind"], ["total_value", "n_events"]
        ).collect()
    }
    assert monthly == {
        (dt.date(2024, 5, 1), "a"): (17.5, 3),
        (dt.date(2024, 5, 1), "b"): (7.0, 1),
        (dt.date(2024, 6, 1), "a"): (1.0, 1),
    }


def test_streamed_histogram_matches_batch_and_serves_quantiles(spark, tmp_path):
    """The streamed histogram equals the batch hist_rollup on the same
    rows (late data replaces counts), and hist_quantiles reads live
    medians straight off the maintained table."""
    from music_streaming_etl_spark.operators.rollup import (
        hist_quantiles,
        hist_rollup,
    )
    from music_streaming_etl_spark.streaming.rollup import (
        hist_rollup_stream,
        start_hist_rollup_sink,
    )

    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt_h")
    d1 = dt.datetime(2024, 5, 30, 9, 0)

    def drain():
        events = (
            spark.readStream.schema(SCHEMA).option("header", True).csv(stream_dir)
        )
        hist = hist_rollup_stream(
            events, "ts", ["kind"], "amount", 0.0, 100.0, 10
        )
        q = start_hist_rollup_sink(hist, out, ckpt, ["kind"])
        q.awaitTermination(120)

    rows1 = [(1, "a", d1, 5.0), (2, "a", d1, 15.0), (3, "a", d1, 17.0)]
    _write_csv(spark, rows1, stream_dir)
    drain()
    late = [(4, "a", d1.replace(hour=20), 15.5)]
    _write_csv(spark, late, stream_dir)
    drain()

    streamed = spark.read.parquet(out)
    batch = hist_rollup(
        spark.createDataFrame(rows1 + late, SCHEMA),
        "ts", "day", ["kind"], "amount", 0.0, 100.0, 10,
    )
    key = lambda r: (r["bucket"], r["kind"], r["bidx"], r["cnt"])
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))

    med = hist_quantiles(streamed, ["kind"], [0.5], 0.0, 100.0, 10).collect()
    assert len(med) == 1 and med[0]["est"] == 20.0  # bucket (10,20] upper edge


def test_streamed_cms_matches_batch_and_estimates(spark, tmp_path):
    """The streamed CMS equals the batch cms_rollup on the same rows,
    and cms_estimate reads frequencies off the maintained table."""
    from music_streaming_etl_spark.operators.rollup import (
        cms_estimate,
        cms_rollup,
    )
    from music_streaming_etl_spark.streaming.rollup import (
        cms_rollup_stream,
        start_cms_rollup_sink,
    )

    stream_dir = str(tmp_path / "in_cms")
    out = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt_cms")
    d1 = dt.datetime(2024, 5, 30, 9, 0)

    def drain():
        events = (
            spark.readStream.schema(SCHEMA).option("header", True).csv(stream_dir)
        )
        cms = cms_rollup_stream(events, "ts", [], "user_id", depth=4, width=64)
        q = start_cms_rollup_sink(cms, out, ckpt, [])
        q.awaitTermination(120)

    rows1 = [(7, "a", d1, 1.0)] * 5 + [(9, "b", d1, 1.0)] * 2
    _write_csv(spark, rows1, stream_dir)
    drain()
    _write_csv(spark, [(7, "a", d1.replace(hour=20), 1.0)], stream_dir)
    drain()

    streamed = spark.read.parquet(out)
    all_rows = rows1 + [(7, "a", d1.replace(hour=20), 1.0)]
    batch = cms_rollup(
        spark.createDataFrame(all_rows, SCHEMA), "ts", "day", [], "user_id",
        depth=4, width=64,
    )
    k = lambda r: (r["bucket"], r["row_i"], r["col_j"], r["cnt"])
    assert sorted(map(k, streamed.collect())) == sorted(map(k, batch.collect()))

    probes = spark.createDataFrame([(7,), (9,), (404,)], "user_id int")
    est = {
        r["user_id"]: r["est_count"]
        for r in cms_estimate(streamed, probes, [], "user_id", depth=4, width=64).collect()
    }
    assert est["7"] >= 6 and est["9"] >= 2
