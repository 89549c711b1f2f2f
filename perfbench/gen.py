"""Seeded input generators for the ``kpi_batch`` and ``kpi_stream`` workloads.

Everything is drawn from ``numpy.random.default_rng`` keyed by the run's
seed, so the same seed writes byte-identical files. The shapes exercise
the edges the KPI pipeline must get right:

- track popularity is Zipf-skewed (a few tracks dominate every genre);
- some stream ``track_id``s have no songs row and some ``user_id``s have
  no users row (the two LEFT JOIN edges), and a few songs have no genre
  (the genre KPIs drop those rows);
- track names repeat across songs, so modal-name ties occur;
- a batch drop spans several days and is spread over several files;
- a stream drop holds one hour of events plus late events from the
  previous hour, which the 1-hour watermark must still accept.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Sizes documented for the reference (BASELINE.md, SURVEY.md): 50,000
# users, and 34,038 stream events per hourly batch in 3 files. The
# reference's songs file is missing from its snapshot, so the song,
# genre, artist and name counts, the Zipf exponent and the unknown-key
# shares are picked, not documented (see README.md, "Inputs").
N_GENRES = 114
N_SONGS = 90_000
N_USERS = 50_000
N_ARTISTS = 13_000
N_TRACK_NAMES = 54_000
ZIPF_S = 1.1
UNKNOWN_TRACK_SHARE = 0.02
UNKNOWN_USER_SHARE = 0.02

BATCH_ROWS = 34_038
BATCH_FILES = 3
BATCH_DAYS = 4
BATCH_START = np.datetime64("2024-06-01T00:00:00")

STREAM_ROWS_PER_HOUR = 34_038
STREAM_FILES_PER_HOUR = 3
STREAM_LATE_SHARE = 0.05
STREAM_START = np.datetime64("2024-07-01T00:00:00")

SONG_COLUMNS = ["id", "track_id", "artists", "album_name", "track_name", "track_genre", "duration_ms"]
USER_COLUMNS = ["user_id", "user_name", "user_age", "user_country", "created_at"]


@dataclass
class Catalog:
    songs: pd.DataFrame
    users: pd.DataFrame
    popularity: np.ndarray  # P(song index) for a stream row, Zipf over a random rank order
    has_genre: np.ndarray  # bool per song index


def make_catalog(seed: int) -> Catalog:
    rng = np.random.default_rng([seed, 0])
    idx = np.arange(N_SONGS)
    genre = rng.integers(0, N_GENRES, N_SONGS)
    has_genre = rng.random(N_SONGS) >= 0.02
    duration = rng.integers(90_000, 420_000, N_SONGS).astype("float64")
    duration[rng.random(N_SONGS) < 0.01] = np.nan
    songs = pd.DataFrame(
        {
            "id": idx + 1,
            "track_id": [f"T{i:07d}" for i in idx],
            "artists": [f"artist_{a:04d}" for a in rng.integers(0, N_ARTISTS, N_SONGS)],
            "album_name": [f"album_{a:05d}" for a in rng.integers(0, 8_000, N_SONGS)],
            "track_name": [f"name_{n:05d}" for n in rng.integers(0, N_TRACK_NAMES, N_SONGS)],
            "track_genre": np.where(has_genre, [f"genre_{g:03d}" for g in genre], None),
            "duration_ms": pd.array(duration, dtype="Int64"),
        }
    )
    uid = np.arange(1, N_USERS + 1)
    users = pd.DataFrame(
        {
            "user_id": uid,
            "user_name": [f"user_{u}" for u in uid],
            "user_age": rng.integers(16, 80, N_USERS),
            "user_country": rng.choice(["US", "GB", "DE", "GH", "BR"], N_USERS, p=[0.6, 0.1, 0.1, 0.1, 0.1]),
            "created_at": (np.datetime64("2023-01-01") + rng.integers(0, 365, N_USERS)).astype(str),
        }
    )
    ranks = rng.permutation(N_SONGS) + 1
    weights = 1.0 / ranks.astype("float64") ** ZIPF_S
    return Catalog(songs, users, weights / weights.sum(), has_genre)


def _stream_rows(
    rng: np.random.Generator, cat: Catalog, n: int, start: np.datetime64, span_s: int
) -> tuple[pd.DataFrame, int]:
    """``n`` stream rows with listen times in ``[start, start + span_s)``;
    returns the frame and how many rows hit a song that has a genre."""
    song = rng.choice(N_SONGS, n, p=cat.popularity)
    unknown_track = rng.random(n) < UNKNOWN_TRACK_SHARE
    user = rng.integers(1, N_USERS + 1, n)
    unknown_user = rng.random(n) < UNKNOWN_USER_SHARE
    user[unknown_user] = N_USERS + 1 + rng.integers(0, 1_000, int(unknown_user.sum()))
    track_ids = np.array([f"T{i:07d}" for i in song], dtype=object)
    track_ids[unknown_track] = [f"X{i:07d}" for i in rng.integers(0, 10**7, int(unknown_track.sum()))]
    secs = rng.integers(0, span_s, n)
    times = (start + secs.astype("timedelta64[s]")).astype(str)
    frame = pd.DataFrame(
        {"user_id": user, "track_id": track_ids, "listen_time": np.char.replace(times.astype(str), "T", " ")}
    )
    with_genre = int((cat.has_genre[song] & ~unknown_track).sum())
    return frame, with_genre


@dataclass
class BatchDrop:
    stream_files: list[str]
    songs_path: str
    users_path: str
    stream_rows: int
    rows_with_genre: int
    songs_rows: int
    users_rows: int


def write_batch_drop(seed: int, out_dir: str) -> BatchDrop:
    """Write songs, users and a several-day stream drop over several files."""
    cat = make_catalog(seed)
    rng = np.random.default_rng([seed, 1])
    streams, with_genre = _stream_rows(rng, cat, BATCH_ROWS, BATCH_START, BATCH_DAYS * 86_400)
    os.makedirs(os.path.join(out_dir, "streams"), exist_ok=True)
    songs_path = os.path.join(out_dir, "songs.csv")
    users_path = os.path.join(out_dir, "users.csv")
    cat.songs[SONG_COLUMNS].to_csv(songs_path, index=False)
    cat.users[USER_COLUMNS].to_csv(users_path, index=False)
    part = rng.integers(0, BATCH_FILES, len(streams))
    files = []
    for i in range(BATCH_FILES):
        path = os.path.join(out_dir, "streams", f"streams{i + 1}.csv")
        streams[part == i].to_csv(path, index=False)
        files.append(path)
    return BatchDrop(files, songs_path, users_path, len(streams), with_genre, len(cat.songs), len(cat.users))


def write_songs(seed: int, path: str) -> Catalog:
    cat = make_catalog(seed)
    cat.songs[SONG_COLUMNS].to_csv(path, index=False)
    return cat


@dataclass
class StreamHour:
    files: list[str]
    rows: int
    keys: int  # distinct (hourly window, genre) pairs the drop touches


def write_stream_hour(seed: int, cat: Catalog, hour: int, staging_dir: str) -> StreamHour:
    """Write hour ``hour``'s drop (its own events plus late events from
    the previous hour) under ``staging_dir``. Late events sit in the
    previous hour, which the 1-hour watermark still holds open, so none
    of them is dropped."""
    rng = np.random.default_rng([seed, 2, hour])
    start = STREAM_START + np.timedelta64(hour, "h")
    n_late = int(STREAM_ROWS_PER_HOUR * STREAM_LATE_SHARE) if hour > 0 else 0
    on_time, _ = _stream_rows(rng, cat, STREAM_ROWS_PER_HOUR - n_late, start, 3_600)
    frames = [on_time]
    if n_late:
        late, _ = _stream_rows(rng, cat, n_late, start - np.timedelta64(1, "h"), 3_600)
        frames.append(late)
    rows = pd.concat(frames, ignore_index=True)
    genre = rows.track_id.map(cat.songs.set_index("track_id").track_genre)
    keys = pd.DataFrame({"window": rows.listen_time.str[:13], "genre": genre}).dropna().drop_duplicates()
    part = rng.integers(0, STREAM_FILES_PER_HOUR, len(rows))
    os.makedirs(staging_dir, exist_ok=True)
    files = []
    for i in range(STREAM_FILES_PER_HOUR):
        path = os.path.join(staging_dir, f"hour{hour:05d}_part{i}.csv")
        rows[part == i].to_csv(path, index=False)
        files.append(path)
    return StreamHour(files, len(rows), len(keys))
