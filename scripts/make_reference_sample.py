"""Write the committed reference-layout CSV sample.

``scan_binary_ingest`` and ``ref_pipeline_genre_kpis`` read this sample
(``music_streaming_etl_spark/plans/fixtures/reference_sample``) instead
of the reference repo's own data drop, so the registry's only inputs
are the repo and the sf dir. The files keep the reference's CSV
layout — ``streams/streams{1,2,3}.csv`` with header
``user_id,track_id,listen_time`` and ``users/users.csv`` with the five
``USERS`` columns — but every value is synthetic. The songs dim is not
written: both engines derive it from ``track_id``.

The sample is shaped by construction so the genre branch of
``compute_kpis`` still meets each of its edges:

- stream ``user_id`` 41..48 have no row in ``users`` (the LEFT JOIN
  keeps them);
- 4 genres × 2 dates = 8 (genre, date) groups;
- in half the groups the two lexicographically largest track names tie
  for the most plays (the mode tie-break must pick the smaller), in the
  other half the largest name wins outright (a plain ``min`` is wrong);
- the derived duration adds the fifth track_id char to the genre's
  base, so a group averages unequal values (every group of the
  committed sample holds 5 or 6 distinct durations);
- the rows are spread over three files (a real multi-path read).

Usage:
    python scripts/make_reference_sample.py [--out DIR]
"""

from __future__ import annotations

import argparse
import csv
import datetime
import os
import random
import string

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(
    ROOT, "music_streaming_etl_spark", "plans", "fixtures", "reference_sample"
)

BASE62 = string.digits + string.ascii_uppercase + string.ascii_lowercase
GENRES = "05aZ"  # first track_id char: the derived genre
DATES = (datetime.date(2024, 6, 25), datetime.date(2024, 6, 26))
TIE = (2, 3, 3)  # plays per track name, names in ascending order
CLEAR = (1, 2, 4)
N_USERS = 40
N_STREAM_USERS = 48  # ids above N_USERS are missing from users.csv
COUNTRIES = ("United States",) * 7 + ("Canada", "Germany", "Brazil")


def _tracks(rng: random.Random) -> dict[str, list[list[str]]]:
    """Per genre: three track names (a name is the id's first 4 chars),
    ascending, each with two 22-char base62 track ids."""
    out = {}
    for g in GENRES:
        prefixes = sorted({g + "".join(rng.choices(BASE62, k=3)) for _ in range(3)})
        assert len(prefixes) == 3
        out[g] = [
            [p + "".join(rng.choices(BASE62, k=18)) for _ in range(2)]
            for p in prefixes
        ]
    return out


def stream_rows(rng: random.Random) -> list[tuple[int, str, str]]:
    tracks = _tracks(rng)
    picks = []
    for gi, g in enumerate(GENRES):
        for di, day in enumerate(DATES):
            counts = TIE if (gi + di) % 2 == 0 else CLEAR
            for ids, n in zip(tracks[g], counts):
                picks += [(day, ids[j % 2]) for j in range(n)]
    rows = []
    for k, (day, track_id) in enumerate(picks):
        ts = datetime.datetime.combine(day, datetime.time()) + datetime.timedelta(
            hours=(k * 5) % 24, minutes=(k * 13) % 60, seconds=(k * 29) % 60
        )
        user_id = 1 + (k * 7) % N_STREAM_USERS
        rows.append((user_id, track_id, ts.strftime("%Y-%m-%d %H:%M:%S")))
    rng.shuffle(rows)
    return rows


def user_rows() -> list[tuple]:
    start = datetime.date(2024, 1, 1)
    return [
        (
            i,
            f"user_{i:02d}",
            18 + (i * 11) % 52,
            COUNTRIES[i % len(COUNTRIES)],
            (start + datetime.timedelta(days=i * 9)).isoformat(),
        )
        for i in range(1, N_USERS + 1)
    ]


def _write(path: str, header: list[str], rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=OUT)
    args = ap.parse_args()
    streams = stream_rows(random.Random(20240625))
    third = len(streams) // 3
    for i in range(3):
        _write(
            os.path.join(args.out, "streams", f"streams{i + 1}.csv"),
            ["user_id", "track_id", "listen_time"],
            streams[i * third : (i + 1) * third],
        )
    _write(
        os.path.join(args.out, "users", "users.csv"),
        ["user_id", "user_name", "user_age", "user_country", "created_at"],
        user_rows(),
    )
    print(f"wrote {len(streams)} streams, {N_USERS} users under {args.out}")


if __name__ == "__main__":
    main()
