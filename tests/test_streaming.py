"""Streaming KPI pipeline test: drop CSV batches into a directory,
drain with availableNow, assert windowed KPIs land in the upsert
target — including a late-data second batch that must *replace* the
affected window rows, not duplicate them."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_spark.streaming.kpis import (
    read_top_artists,
    start_artist_count_stream,
    start_kpi_stream,
)


def _write_csv(spark, rows, path):
    df = spark.createDataFrame(
        rows, "user_id int, track_id string, listen_time timestamp"
    )
    df.coalesce(1).write.mode("append").option("header", True).csv(path)


@pytest.fixture()
def songs(spark):
    return spark.createDataFrame(
        [("t1", "rock", 100), ("t2", "jazz", 200)],
        "track_id string, track_genre string, duration_ms int",
    )


def test_streaming_windowed_upsert(spark, songs, tmp_path):
    stream_dir = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = dt.datetime(2024, 6, 25, 10, 15)

    _write_csv(
        spark,
        [(1, "t1", t), (2, "t1", t.replace(minute=40)), (1, "t2", t.replace(hour=11))],
        stream_dir,
    )
    q = start_kpi_stream(spark, stream_dir, songs, target, ckpt)
    q.awaitTermination(120)

    out = {
        (r["hour"], r["track_genre"]): r
        for r in spark.read.parquet(target).collect()
    }
    assert out[(10, "rock")]["listen_count"] == 2
    assert out[(11, "jazz")]["listen_count"] == 1
    assert out[(10, "rock")]["date"] == dt.date(2024, 6, 25)

    # late batch into the 10:00 window → window re-emitted, upsert
    # must REPLACE the (window, genre) row
    _write_csv(spark, [(3, "t1", t.replace(minute=50))], stream_dir)
    q2 = start_kpi_stream(spark, stream_dir, songs, target, ckpt)
    q2.awaitTermination(120)

    out2 = {
        (r["hour"], r["track_genre"]): r
        for r in spark.read.parquet(target).collect()
    }
    assert out2[(10, "rock")]["listen_count"] == 3
    assert out2[(10, "rock")]["unique_listeners"] == 3
    assert len([k for k in out2 if k[1] == "rock" and k[0] == 10]) == 1


def test_kpi_sink_contract_from_progress(spark, songs, tmp_path):
    """Two drops drained through ``start_kpi_stream``, checked against
    the query's own ``recentProgress``: one target row per key, a
    trailing no-data trigger that writes nothing, and state held to
    the two windows a 1-hour watermark leaves open per genre. The
    bound is read where the watermark has been applied, the trailing
    trigger: a data trigger is planned under the previous watermark,
    and its state metrics also count the sink's ``isEmpty()`` pass
    (ROADMAP item 2)."""
    stream_dir = str(tmp_path / "in")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = dt.datetime(2024, 6, 25, 10, 15)
    genres = 2
    t11, t12 = t.replace(hour=11), t.replace(hour=12)
    drops = [
        [(1, "t1", t), (2, "t2", t), (3, "t1", t11), (4, "t2", t11)],
        # hour 12 opens a window and closes hour 10; 11:50 is late, not dropped
        [(5, "t1", t12), (6, "t2", t12), (7, "t1", t11.replace(minute=50))],
    ]
    for drop in drops:
        _write_csv(spark, drop, stream_dir)
        q = start_kpi_stream(spark, stream_dir, songs, target, ckpt)
        q.awaitTermination(120)
        last = q.recentProgress[-1]
        assert last["numInputRows"] == 0, "no trailing no-data trigger"
        started = dt.datetime.fromisoformat(
            last["timestamp"].replace("Z", "+00:00")
        )
        files = glob.glob(os.path.join(target, "*"))
        assert max(os.path.getmtime(f) for f in files) < started.timestamp()
        assert last["stateOperators"][0]["numRowsTotal"] <= 2 * genres

    assert last["stateOperators"][0]["numRowsRemoved"] == genres  # hour 10 evicted
    rows = spark.read.parquet(target).collect()
    keys = [(r["window_start"], r["track_genre"]) for r in rows]
    assert len(keys) == len(set(keys)) == 3 * genres
    late = [r for r in rows if (r["hour"], r["track_genre"]) == (11, "rock")]
    assert [r["listen_count"] for r in late] == [2]


def test_streaming_top_artists(spark, tmp_path):
    songs = spark.createDataFrame(
        [("t1", "art_a"), ("t2", "art_b"), ("t3", "art_c")],
        "track_id string, artists string",
    )
    stream_dir = str(tmp_path / "in2")
    counts_path = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt2")
    t = dt.datetime(2024, 6, 25, 10, 5)

    # hour 10: art_a ×2, art_b ×1 (and an unknown track → null artist dropped)
    _write_csv(
        spark,
        [(1, "t1", t), (2, "t1", t), (3, "t2", t), (4, "t_unknown", t)],
        stream_dir,
    )
    q = start_artist_count_stream(spark, stream_dir, songs, counts_path, ckpt)
    q.awaitTermination(120)

    top = read_top_artists(spark, counts_path, k=2).collect()
    by_rank = {r["rank"]: (r["artists"], r["plays"]) for r in top}
    assert by_rank == {1: ("art_a", 2), 2: ("art_b", 1)}

    # late batch: art_b gets 2 more plays in hour 10 → overtakes art_a
    _write_csv(
        spark,
        [(5, "t2", t.replace(minute=40)), (6, "t2", t.replace(minute=50))],
        stream_dir,
    )
    q2 = start_artist_count_stream(spark, stream_dir, songs, counts_path, ckpt)
    q2.awaitTermination(120)
    top2 = read_top_artists(spark, counts_path, k=2).collect()
    by_rank2 = {r["rank"]: (r["artists"], r["plays"]) for r in top2}
    assert by_rank2 == {1: ("art_b", 3), 2: ("art_a", 2)}
