"""End-to-end pipeline test: CSV fixtures on disk → extract →
validate → KPIs → CSV load, checking the loaded files have the
reference's exact shape (incl. the list-literal top_artists string)
and that validation failures abort the run."""

from __future__ import annotations

import csv
import datetime as dt
import glob
import json

import pytest

from music_streaming_etl_spark import __main__ as cli
from music_streaming_etl_spark.operators.validation import ValidationError
from music_streaming_etl_spark.plans.pipeline import extract_streams, run_pipeline
from music_streaming_etl_spark.schemas import USERS
from music_streaming_etl_spark.sources.io import scan_csv_multi


@pytest.fixture()
def dims(spark):
    songs = spark.createDataFrame(
        [
            (1, "t1", "art_a", "alb", "song_a", "rock", 100),
            (2, "t2", "art_b", "alb", "song_b", "jazz", 200),
        ],
        "id int, track_id string, artists string, album_name string,"
        " track_name string, track_genre string, duration_ms int",
    )
    users = spark.createDataFrame(
        [(1, "u1", 30, "US", dt.date(2024, 1, 1))],
        "user_id int, user_name string, user_age int, user_country string,"
        " created_at date",
    )
    return songs, users


def _write_stream_files(tmp_path, n_files=2):
    paths = []
    for i in range(n_files):
        p = tmp_path / f"streams{i}.csv"
        with open(p, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["user_id", "track_id", "listen_time"])
            w.writerow([1, "t1", f"2024-06-25 0{i}:10:00"])
            w.writerow([1, "t2", f"2024-06-25 0{i}:20:00"])
        paths.append(str(p))
    return paths


def test_pipeline_end_to_end(spark, dims, tmp_path):
    songs, users = dims
    paths = _write_stream_files(tmp_path)
    streams = extract_streams(spark, paths)
    genre_out = str(tmp_path / "genre")
    hourly_out = str(tmp_path / "hourly")
    report = run_pipeline(
        spark, streams, songs, users, genre_out=genre_out, hourly_out=hourly_out
    )
    assert report.genre_rows == 2  # (rock, jazz) × one date
    assert report.hourly_rows == 2  # hours 0 and 1
    assert all(c.passed for c in report.input_checks + report.output_checks)

    # loaded CSV must be reference-shaped: header + list-literal array
    hourly_file = glob.glob(f"{hourly_out}/part-*.csv")[0]
    with open(hourly_file) as fh:
        rows = list(csv.DictReader(fh))
    assert sorted(r["hour"] for r in rows) == ["0", "1"]
    assert rows[0]["top_artists"] in ("['art_a', 'art_b']", "['art_b', 'art_a']")
    assert set(rows[0].keys()) == {
        "hour", "unique_listeners", "top_artists", "track_diversity_index",
    }


def _assert_aborts_before_sink(spark, tmp_path, streams, songs, users, check):
    """A failing check raises before either sink path is created."""
    genre_out = tmp_path / "genre"
    hourly_out = tmp_path / "hourly"
    with pytest.raises(ValidationError, match=check):
        run_pipeline(
            spark, streams, songs, users,
            genre_out=str(genre_out), hourly_out=str(hourly_out),
        )
    assert not genre_out.exists()
    assert not hourly_out.exists()


def test_pipeline_aborts_on_null_keys(spark, dims, tmp_path):
    songs, users = dims
    streams = spark.createDataFrame(
        [(1, None, dt.datetime(2024, 6, 25, 1))],
        "user_id int, track_id string, listen_time timestamp",
    )
    _assert_aborts_before_sink(
        spark, tmp_path, streams, songs, users, "streams_no_nulls"
    )


def test_pipeline_aborts_on_empty(spark, dims, tmp_path):
    songs, users = dims
    empty = spark.createDataFrame(
        [], "user_id int, track_id string, listen_time timestamp"
    )
    _assert_aborts_before_sink(
        spark, tmp_path, empty, songs, users, "streams_nonempty"
    )


def test_pipeline_aborts_on_empty_genre_kpis(spark, dims, tmp_path):
    """Inputs pass, but no stream track_id is in the songs dim: the
    genre output check fails and neither sink is written."""
    songs, users = dims
    streams = spark.createDataFrame(
        [(1, "unknown", dt.datetime(2024, 6, 25, 1))],
        "user_id int, track_id string, listen_time timestamp",
    )
    _assert_aborts_before_sink(
        spark, tmp_path, streams, songs, users, "genre_kpis_nonempty"
    )


def test_pipeline_aborts_on_empty_users(spark, dims, tmp_path):
    """A header-only users CSV: the ``isEmpty()`` probe runs over a
    real file scan and finds no row."""
    songs, _ = dims
    users_csv = tmp_path / "users.csv"
    users_csv.write_text(",".join(USERS.fieldNames()) + "\n")
    users = scan_csv_multi(spark, str(users_csv), USERS)
    streams = extract_streams(spark, _write_stream_files(tmp_path))
    _assert_aborts_before_sink(
        spark, tmp_path, streams, songs, users, "users_nonempty"
    )


def test_pipeline_aborts_on_empty_songs(spark, dims, tmp_path):
    songs, users = dims
    streams = extract_streams(spark, _write_stream_files(tmp_path))
    _assert_aborts_before_sink(
        spark, tmp_path, streams, songs.limit(0), users, "songs_nonempty"
    )


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pipeline_releases_caches_on_every_exit(spark, dims, tmp_path):
    """The join and KPI caches are released after a run that sinks and
    after one that fails an output check."""
    songs, users = dims
    streams = extract_streams(spark, _write_stream_files(tmp_path))
    before = _persistent_rdds(spark)
    run_pipeline(
        spark, streams, songs, users,
        genre_out=str(tmp_path / "genre"), hourly_out=str(tmp_path / "hourly"),
    )
    assert _persistent_rdds(spark) == before

    unknown = spark.createDataFrame(
        [(1, "unknown", dt.datetime(2024, 6, 25, 1))],
        "user_id int, track_id string, listen_time timestamp",
    )
    with pytest.raises(ValidationError, match="genre_kpis_nonempty"):
        run_pipeline(spark, unknown, songs, users)
    assert _persistent_rdds(spark) == before


# Spark jobs one run_pipeline issues on this fixture: 44 while every
# check and sink re-ran the KPI aggregations; 29 with each output
# cached and each frame checked in one aggregate.
MAX_PIPELINE_JOBS = 29


def test_pipeline_checks_each_frame_once(spark, dims, tmp_path):
    songs, users = dims
    streams = extract_streams(spark, _write_stream_files(tmp_path))
    sc = spark.sparkContext
    group = "test_pipeline_checks_each_frame_once"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(
            spark, streams, songs, users,
            genre_out=str(tmp_path / "genre"),
            hourly_out=str(tmp_path / "hourly"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MAX_PIPELINE_JOBS


def test_cli_batch_run(spark, tmp_path, monkeypatch, capsys):
    """``python -m music_streaming_etl_spark`` in batch mode, in
    process on tiny CSVs: every check passes, both sinks exist."""
    songs_csv = tmp_path / "songs.csv"
    songs_csv.write_text(
        "id,track_id,artists,album_name,track_name,track_genre,duration_ms\n"
        "1,t1,art_a,alb,song_a,rock,100\n"
        "2,t2,art_b,alb,song_b,jazz,200\n"
    )
    users_csv = tmp_path / "users.csv"
    users_csv.write_text(
        "user_id,user_name,user_age,user_country,created_at\n"
        "1,u1,30,US,2024-01-01\n"
    )
    genre_out, hourly_out = tmp_path / "genre", tmp_path / "hourly"
    # the test session, not one reconfigured by the CLI's get_spark
    monkeypatch.setattr(cli, "get_spark", lambda app_name: spark)
    rc = cli.main(
        ["--streams", *_write_stream_files(tmp_path),
         "--users", str(users_csv), "--songs", str(songs_csv),
         "--genre-out", str(genre_out), "--hourly-out", str(hourly_out)]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["genre_rows"] == 2 and out["hourly_rows"] == 2
    assert out["checks"] == {
        name: True
        for name in (
            "streams_nonempty", "streams_no_nulls", "users_nonempty",
            "songs_nonempty", "genre_kpis_nonempty", "hourly_kpis_nonempty",
            "hour_range", "genre_keys_no_nulls",
        )
    }
    assert glob.glob(f"{genre_out}/part-*.csv")
    assert glob.glob(f"{hourly_out}/part-*.csv")
