"""The benchmark's description and its command line, checked without Spark."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd

import gen
from conftest import BENCH, ROOT

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert set(e2e) == {"setup_s", "cold_op_s", "op_s", "op_cpu_s"}
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kpi_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


def test_generator_is_deterministic_and_has_the_edges(tmp_path):
    a = gen.write_batch_drop(3, str(tmp_path / "a"))
    b = gen.write_batch_drop(3, str(tmp_path / "b"))
    c = gen.write_batch_drop(4, str(tmp_path / "c"))
    read = lambda d: open(d.stream_files[0], "rb").read()  # noqa: E731
    assert read(a) == read(b) != read(c)
    streams = pd.concat(pd.read_csv(f) for f in a.stream_files)
    songs = pd.read_csv(a.songs_path)
    assert len(a.stream_files) == gen.BATCH_FILES and len(streams) == a.stream_rows
    assert (~streams.track_id.isin(songs.track_id)).mean() > 0.01
    assert (streams.user_id > gen.N_USERS).mean() > 0.01
    assert pd.to_datetime(streams.listen_time).dt.date.nunique() == gen.BATCH_DAYS
    counts = streams.track_id.value_counts()
    assert counts.iloc[0] > 50 * counts.median()  # Zipf: the head dwarfs the typical track


def test_stream_hour_holds_late_events_within_the_watermark(tmp_path):
    cat = gen.make_catalog(5)
    hour = gen.write_stream_hour(5, cat, 3, str(tmp_path))
    rows = pd.concat(pd.read_csv(f) for f in hour.files)
    t = pd.to_datetime(rows.listen_time)
    start = pd.Timestamp(gen.STREAM_START) + pd.Timedelta(hours=3)
    late = t < start
    assert late.sum() == int(gen.STREAM_ROWS_PER_HOUR * gen.STREAM_LATE_SHARE)
    assert t[late].min() >= start - pd.Timedelta(hours=1)
    assert t.max() < start + pd.Timedelta(hours=1) and len(rows) == hour.rows
    keyed = rows.merge(cat.songs, on="track_id").dropna(subset=["track_genre"])
    assert hour.keys == len(keyed.assign(w=keyed.listen_time.str[:13])[["w", "track_genre"]].drop_duplicates())
