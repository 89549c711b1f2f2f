"""Each output check passes on the program's real output and fails when
one value of that output is altered."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pytest

import gen
from checks import check_kpi_batch, check_kpi_stream, read_parquet_dir
from conftest import SEED


def _batch_inputs(run: dict, tmp_path) -> tuple:
    inp = os.path.join(run["work"], "input")
    streams = sorted(glob.glob(os.path.join(inp, "streams", "*.csv")))
    # the generator is deterministic, so a fresh drop gives the count it wrote
    drop = gen.write_batch_drop(SEED, str(tmp_path / "regen"))
    return streams, os.path.join(inp, "songs.csv"), os.path.join(inp, "users.csv"), drop.rows_with_genre


def _altered_copy(src_dir: str, dst_dir: str, column: str, change) -> None:
    shutil.copytree(src_dir, dst_dir)
    (part,) = glob.glob(os.path.join(dst_dir, "part-*.csv"))
    df = pd.read_csv(part, keep_default_na=False, na_values=[""], dtype=str)
    row = len(df) // 2
    df.loc[row, column] = change(df.loc[row, column])
    df.to_csv(part, index=False)


def test_batch_check_passes_on_program_output(batch_run, tmp_path):
    streams, songs, users, with_genre = _batch_inputs(batch_run, tmp_path)
    out = os.path.join(batch_run["work"], "out")
    assert batch_run["result"]["correct"]
    assert check_kpi_batch(
        streams, songs, users, os.path.join(out, "genre_kpis"), os.path.join(out, "hourly_kpis"), with_genre
    ) == []


@pytest.mark.parametrize(
    "table,column,change",
    [
        ("genre_kpis", "listen_count", lambda v: str(int(v) + 1)),
        ("genre_kpis", "avg_track_duration", lambda v: repr(float(v) + 0.5)),
        ("genre_kpis", "most_popular_track", lambda v: "name_99999"),
        ("genre_kpis", "date", lambda v: "1999-01-01"),
        ("hourly_kpis", "unique_listeners", lambda v: str(int(v) - 1)),
        ("hourly_kpis", "track_diversity_index", lambda v: repr(float(v) * 1.001)),
        ("hourly_kpis", "top_artists", lambda v: str(list(reversed(eval(v))))),
    ],
)
def test_batch_check_fails_on_one_altered_value(batch_run, tmp_path, table, column, change):
    streams, songs, users, with_genre = _batch_inputs(batch_run, tmp_path)
    out = os.path.join(batch_run["work"], "out")
    dirs = {t: os.path.join(out, t) for t in ("genre_kpis", "hourly_kpis")}
    dirs[table] = str(tmp_path / table)
    _altered_copy(os.path.join(out, table), dirs[table], column, change)
    problems = check_kpi_batch(streams, songs, users, dirs["genre_kpis"], dirs["hourly_kpis"], with_genre)
    assert problems, f"altering {table}.{column} went unnoticed"


def _stream_inputs(run: dict) -> tuple[list[str], str, pd.DataFrame]:
    files = sorted(glob.glob(os.path.join(run["work"], "drop", "*.csv")))
    target = read_parquet_dir(os.path.join(run["work"], "out", "hourly_kpis"))
    return files, os.path.join(run["work"], "input", "songs.csv"), target


def test_stream_check_passes_on_program_output(stream_run):
    files, songs, target = _stream_inputs(stream_run)
    assert stream_run["result"]["correct"]
    assert len(target) > 0
    assert check_kpi_stream(files, songs, target) == []


@pytest.mark.parametrize(
    "alter",
    [
        lambda t: t.assign(listen_count=t.listen_count.where(t.index != 3, t.listen_count + 1)),
        lambda t: t.assign(avg_track_duration=t.avg_track_duration.where(t.index != 3, t.avg_track_duration + 0.5)),
        lambda t: t.assign(unique_listeners=t.unique_listeners.where(t.index != 3, t.unique_listeners * 2 + 5)),
        lambda t: t.assign(unique_listeners=(t.unique_listeners * 1.08).round().astype("int64")),
        lambda t: pd.concat([t, t.iloc[[3]]], ignore_index=True),
        lambda t: t.drop(index=3),
    ],
    ids=["listen_count", "avg_track_duration", "unique_listeners", "unique_listeners_biased", "duplicate_key",
         "missing_key"],
)
def test_stream_check_fails_on_one_altered_value(stream_run, alter):
    files, songs, target = _stream_inputs(stream_run)
    assert check_kpi_stream(files, songs, alter(target)), "the altered target went unnoticed"
