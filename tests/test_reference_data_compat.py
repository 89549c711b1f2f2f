"""Drop-in compatibility test: run the engine's full pipeline on the
reference repo's OWN data files (read-only at /root/reference/data) —
50,000 real users + 3 × 11,346 real stream events, all on 2024-06-25.

songs.csv is absent from the reference snapshot
(.MISSING_LARGE_BLOBS), so the songs dim is synthesized for the
track_ids present in the streams — which also exercises the
referential edge: every stream row matches songs, so genre_kpis keeps
all events, and totals must reconcile exactly with the raw counts.

The registry key ``ref_pipeline_genre_kpis`` runs on a small committed
sample; its DuckDB-oracle comparison on this real data lives here.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from music_streaming_etl_spark.plans.kpis import compute_kpis
from music_streaming_etl_spark.plans.pipeline import extract_streams
from music_streaming_etl_spark.plans.testdata_queries import (
    ref_pipeline_genre_kpis,
    ref_pipeline_oracle_sql,
)
from music_streaming_etl_spark.schemas import USERS
from music_streaming_etl_spark.sources.io import scan_csv_multi

REF_DATA = "/root/reference/data"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{REF_DATA}/users/users.csv"),
    reason="reference data not present",
)


@pytest.fixture(scope="module")
def ref_frames(spark):
    users = scan_csv_multi(spark, f"{REF_DATA}/users/users.csv", USERS)
    streams = extract_streams(
        spark,
        [f"{REF_DATA}/streams/streams{i}.csv" for i in (1, 2, 3)],
    )
    # synthesize the missing songs dim: one row per distinct track_id,
    # deterministic genre/name/artist derived from the id
    tracks = streams.select("track_id").distinct()
    songs = tracks.select(
        F.monotonically_increasing_id().cast("int").alias("id"),
        "track_id",
        F.concat(F.lit("artist_"), F.substring("track_id", 1, 2)).alias("artists"),
        F.lit("album").alias("album_name"),
        F.concat(F.lit("track_"), F.substring("track_id", 1, 4)).alias("track_name"),
        F.concat(F.lit("genre_"), F.substring("track_id", 1, 1)).alias("track_genre"),
        (
            F.ascii(F.substring("track_id", 1, 1)) * 3000
            + F.ascii(F.substring("track_id", 5, 1))
        ).alias("duration_ms"),
    )
    return streams, songs, users


def test_reference_volume_reconciles(spark, ref_frames):
    streams, songs, users = ref_frames
    assert streams.count() == 34_038  # 3 × 11,346 (BASELINE.md)
    assert users.count() == 50_000
    res = compute_kpis(streams, songs, users, cache=True)
    genre_total = res.genre_kpis.agg(F.sum("listen_count")).collect()[0][0]
    # every stream row has a (synth) song match → nothing dropped
    assert genre_total == 34_038
    hourly = res.hourly_kpis.collect()
    hours = sorted(r["hour"] for r in hourly)
    assert hours == list(range(24))  # full single-day coverage
    assert sum(1 for r in hourly if r["unique_listeners"] > 0) == 24
    for r in hourly:
        assert 0.0 < r["track_diversity_index"] <= 1.0
        assert len(r["top_artists"]) <= 5
    res.merged.unpersist()


def test_reference_single_date(spark, ref_frames):
    streams, songs, users = ref_frames
    dates = (
        streams.select(F.to_date("listen_time").alias("d")).distinct().collect()
    )
    assert [str(r["d"]) for r in dates] == ["2024-06-25"]


def test_reference_genre_kpis_match_oracle(spark):
    """The registry key's Spark plan and its DuckDB oracle, on the real
    34k streams / 50k users: cell-exact equal rows."""
    cols = [
        "track_genre",
        "date",
        "listen_count",
        "avg_track_duration",
        "most_popular_track",
    ]
    got = ref_pipeline_genre_kpis(spark, REF_DATA).select(*cols).collect()
    got = sorted(tuple(r) for r in got)
    sql = f"SELECT {', '.join(cols)} FROM ({ref_pipeline_oracle_sql(REF_DATA)})"
    with duckdb.connect() as con:
        want = sorted(con.execute(sql).fetchall())
    assert got, "the real data yields genre rows"
    assert got == want
