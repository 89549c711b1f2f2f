"""Output checks computed apart from the program, in DuckDB.

Each ``check_*`` returns a list of problems; an empty list means the
output is correct. They read only files (the generated inputs and what
the program wrote), never a Spark frame, so they are independent of the
engine under test.
"""

from __future__ import annotations

import ast
import glob
import math
import os

import duckdb
import pandas as pd

# approx_count_distinct's default relative standard deviation. The
# sketch must meet it over a run's windows (root-mean-square relative
# error at most HLL_RSD), and every window must lie within HLL_SIGMAS of
# it from the exact count: the sketch's errors have a heavier tail than a
# normal one (one window in 11,400 was 4.6 sigma off), so 4 sigma would
# fail correct output.
HLL_RSD = 0.05
HLL_SIGMAS = 6

_STREAMS = "{'user_id': 'INTEGER', 'track_id': 'VARCHAR', 'listen_time': 'TIMESTAMP'}"
_SONGS = (
    "{'id': 'INTEGER', 'track_id': 'VARCHAR', 'artists': 'VARCHAR', 'album_name': 'VARCHAR',"
    " 'track_name': 'VARCHAR', 'track_genre': 'VARCHAR', 'duration_ms': 'INTEGER'}"
)
_USERS = (
    "{'user_id': 'INTEGER', 'user_name': 'VARCHAR', 'user_age': 'INTEGER',"
    " 'user_country': 'VARCHAR', 'created_at': 'DATE'}"
)


def _csv(paths: list[str], columns: str) -> str:
    files = ", ".join(f"'{p}'" for p in paths)
    return f"read_csv([{files}], header=true, columns={columns})"


def _connect(stream_files: list[str], songs_path: str, users_path: str | None = None):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW streams AS SELECT * FROM {_csv(stream_files, _STREAMS)}")
    con.execute(f"CREATE VIEW songs AS SELECT * FROM {_csv([songs_path], _SONGS)}")
    if users_path:
        con.execute(f"CREATE VIEW users AS SELECT * FROM {_csv([users_path], _USERS)}")
    return con


# The reference's compute_kpis semantics, written independently:
# null-genre rows dropped, count(track_id), mean duration, modal track
# name with the smallest name winning ties, per-hour-of-day distinct
# users, top-5 artists by count desc then name asc, and distinct tracks
# over ALL rows of the hour.
_MERGED = """
CREATE VIEW merged AS
SELECT s.user_id, s.track_id, s.listen_time, so.track_name, so.track_genre,
       so.duration_ms, so.artists, u.user_country
FROM streams s
LEFT JOIN songs so ON s.track_id = so.track_id
LEFT JOIN users u ON s.user_id = u.user_id
"""

GENRE_SQL = """
WITH g AS (
  SELECT *, CAST(listen_time AS DATE) AS date FROM merged WHERE track_genre IS NOT NULL
), agg AS (
  SELECT track_genre, date, count(track_id) AS listen_count,
         avg(duration_ms) AS avg_track_duration
  FROM g GROUP BY track_genre, date
), names AS (
  SELECT track_genre, date, track_name,
         row_number() OVER (PARTITION BY track_genre, date
                            ORDER BY count(*) DESC, track_name ASC) AS rn
  FROM g WHERE track_name IS NOT NULL GROUP BY track_genre, date, track_name
)
SELECT agg.*, names.track_name AS most_popular_track
FROM agg LEFT JOIN (SELECT * FROM names WHERE rn = 1) names USING (track_genre, date)
"""

HOURLY_SQL = """
WITH h AS (SELECT *, hour(listen_time) AS hour FROM merged),
stats AS (
  SELECT hour, count(DISTINCT user_id) AS unique_listeners,
         count(DISTINCT track_id)::DOUBLE / count(*)::DOUBLE AS track_diversity_index
  FROM h GROUP BY hour
), ranked AS (
  SELECT hour, artists,
         row_number() OVER (PARTITION BY hour ORDER BY count(*) DESC, artists ASC) AS rn
  FROM h WHERE artists IS NOT NULL GROUP BY hour, artists
), top AS (
  SELECT hour, list(artists ORDER BY rn) AS top_artists FROM ranked WHERE rn <= 5 GROUP BY hour
)
SELECT stats.*, top.top_artists FROM stats LEFT JOIN top USING (hour)
"""


def _single_csv(out_dir: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if len(parts) != 1:
        raise ValueError(f"{out_dir}: expected one part file, found {len(parts)}")
    return pd.read_csv(parts[0], keep_default_na=False, na_values=[""], dtype=str)


def _diff_rows(name: str, got: dict, want: dict, eq) -> list[str]:
    problems = []
    if got.keys() != want.keys():
        missing = sorted(want.keys() - got.keys())[:3]
        extra = sorted(got.keys() - want.keys())[:3]
        problems.append(f"{name}: keys differ (missing {missing}, extra {extra})")
    for k in sorted(got.keys() & want.keys()):
        if not eq(got[k], want[k]):
            problems.append(f"{name}: row {k}: program {got[k]} != oracle {want[k]}")
            if len(problems) >= 5:
                break
    return problems


def _same_float(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return float(a) == float(b) or (math.isnan(float(a)) and math.isnan(float(b)))


def check_kpi_batch(
    stream_files: list[str],
    songs_path: str,
    users_path: str,
    genre_out: str,
    hourly_out: str,
    rows_with_genre: int,
) -> list[str]:
    """Compare both sunk CSVs with the DuckDB computation, cell by cell,
    and the summed ``listen_count`` with the generator's own count."""
    con = _connect(stream_files, songs_path, users_path)
    con.execute(_MERGED)
    want_g = {
        (r[0], str(r[1])): (int(r[2]), r[3], r[4])
        for r in con.execute(GENRE_SQL).fetchall()
    }
    want_h = {r[0]: (int(r[1]), r[2], list(r[3]) if r[3] is not None else None)
              for r in con.execute(HOURLY_SQL).fetchall()}
    con.close()

    genre = _single_csv(genre_out)
    got_g = {
        (r.track_genre, r.date): (
            int(r.listen_count),
            None if pd.isna(r.avg_track_duration) else float(r.avg_track_duration),
            None if pd.isna(r.most_popular_track) else r.most_popular_track,
        )
        for r in genre.itertuples()
    }
    hourly = _single_csv(hourly_out)
    got_h = {
        int(r.hour): (
            int(r.unique_listeners),
            float(r.track_diversity_index),
            None if pd.isna(r.top_artists) else ast.literal_eval(r.top_artists),
        )
        for r in hourly.itertuples()
    }

    def eq(a, b) -> bool:
        return a[0] == b[0] and _same_float(a[1], b[1]) and a[2] == b[2]

    problems = _diff_rows("genre_kpis", got_g, want_g, eq)
    problems += _diff_rows("hourly_kpis", got_h, want_h, eq)
    if len(genre) != len(got_g):
        problems.append(f"genre_kpis: {len(genre)} rows for {len(got_g)} keys")
    if len(hourly) != len(got_h):
        problems.append(f"hourly_kpis: {len(hourly)} rows for {len(got_h)} keys")
    total = int(genre.listen_count.astype("int64").sum())
    if total != rows_with_genre:
        problems.append(f"genre_kpis: listen_count sums to {total}, generator wrote {rows_with_genre}")
    return problems


STREAM_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, s.listen_time) AS window_start, so.track_genre,
       count(s.track_id) AS listen_count, avg(so.duration_ms) AS avg_track_duration,
       count(DISTINCT s.user_id) AS exact_listeners
FROM streams s JOIN songs so ON s.track_id = so.track_id
WHERE so.track_genre IS NOT NULL
GROUP BY 1, 2
"""


def read_parquet_dir(path: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    # at any depth, so a target partitioned into subdirectories reads whole
    df = con.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)").fetchdf()
    con.close()
    return df


def check_kpi_stream(stream_files: list[str], songs_path: str, target: pd.DataFrame) -> list[str]:
    """The upsert target must hold one row per (window_start,
    track_genre) with exact counts and means, and HLL listener counts
    within the sketch's error bound of the exact distinct count."""
    problems = []
    target = target.assign(window_start=pd.to_datetime(target.window_start).dt.tz_localize(None))
    dup = target.duplicated(["window_start", "track_genre"]).sum()
    if dup:
        problems.append(f"kpi_stream: {dup} duplicate (window_start, track_genre) rows")
    con = _connect(stream_files, songs_path)
    want = {(pd.Timestamp(r[0]), r[1]): r[2:] for r in con.execute(STREAM_SQL).fetchall()}
    con.close()
    got = {
        (r.window_start, r.track_genre): (int(r.listen_count), float(r.avg_track_duration), int(r.unique_listeners))
        for r in target.itertuples()
    }

    def eq(a, b) -> bool:
        bound = HLL_SIGMAS * HLL_RSD * b[2] + 1
        return a[0] == b[0] and _same_float(a[1], b[1]) and abs(a[2] - b[2]) <= bound

    problems += _diff_rows("kpi_stream", got, want, eq)
    rel = [(got[k][2] - want[k][2]) / want[k][2] for k in got.keys() & want.keys()]
    rms = math.sqrt(sum(r * r for r in rel) / len(rel)) if rel else 0.0
    if rms > HLL_RSD:
        problems.append(f"kpi_stream: unique_listeners relative error {rms:.4f} (rms) exceeds {HLL_RSD}")
    return problems
