"""The benchmark's workloads. Each is a closed loop with one caller: the
next operation starts when the previous one has returned.

- ``kpi_batch``: one ``run_pipeline`` call over a generated CSV drop;
- ``kpi_stream``: one hourly drop drained by ``start_kpi_stream``.
"""

from __future__ import annotations

import json
import os

import gen
from checks import check_kpi_batch, check_kpi_stream, read_parquet_dir
from tracing import Tracer, streaming_op_metrics


class Workload:
    nominal_op_s: float  # one warm operation on the tuning machine (README)

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer

    def prepare(self) -> None:
        """Make the inputs; not timed."""

    def before_op(self, i: int) -> None:
        """Ready operation ``i``'s inputs; not timed."""

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def add_layer_metrics(self, i: int, m: dict) -> None:
        """Add operation ``i``'s workload-specific layer numbers to ``m``."""


class KpiBatch(Workload):
    nominal_op_s = 5.0

    def prepare(self) -> None:
        from music_streaming_etl_spark.__main__ import SONGS_MIN
        from music_streaming_etl_spark.plans import pipeline
        from music_streaming_etl_spark.schemas import USERS
        from music_streaming_etl_spark.sources.io import scan_csv_multi

        self.songs_schema, self.users_schema = SONGS_MIN, USERS
        self.pipeline, self.scan_csv_multi = pipeline, scan_csv_multi
        self.drop = gen.write_batch_drop(self.seed, os.path.join(self.work, "input"))
        self.genre_out = os.path.join(self.work, "out", "genre_kpis")
        self.hourly_out = os.path.join(self.work, "out", "hourly_kpis")

    def op(self, i: int) -> None:
        with self.tracer.span("plans.construct"):
            users = self.scan_csv_multi(self.spark, self.drop.users_path, self.users_schema)
            songs = self.scan_csv_multi(self.spark, self.drop.songs_path, self.songs_schema)
            streams = self.pipeline.extract_streams(self.spark, self.drop.stream_files)
        self.pipeline.run_pipeline(
            self.spark, streams, songs, users, genre_out=self.genre_out, hourly_out=self.hourly_out
        )

    def check(self) -> list[str]:
        d = self.drop
        return check_kpi_batch(
            d.stream_files, d.songs_path, d.users_path, self.genre_out, self.hourly_out, d.rows_with_genre
        )

    def add_layer_metrics(self, i: int, m: dict) -> None:
        d = self.drop
        m["sources.scan_amplification"] = m["sources.scan_rows_read"] / (d.stream_rows + d.songs_rows + d.users_rows)


class KpiStream(Workload):
    nominal_op_s = 2.4

    def prepare(self) -> None:
        from music_streaming_etl_spark.__main__ import SONGS_MIN
        from music_streaming_etl_spark.sources.io import scan_csv_multi
        from music_streaming_etl_spark.streaming import kpis

        self.kpis = kpis
        self.songs_path = os.path.join(self.work, "input", "songs.csv")
        os.makedirs(os.path.dirname(self.songs_path), exist_ok=True)
        self.catalog = gen.write_songs(self.seed, self.songs_path)
        self.songs = scan_csv_multi(self.spark, self.songs_path, SONGS_MIN)
        self.staging = os.path.join(self.work, "input", "staging")
        self.drop_dir = os.path.join(self.work, "drop")
        self.target = os.path.join(self.work, "out", "hourly_kpis")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        os.makedirs(self.drop_dir, exist_ok=True)
        self.dropped: list[str] = []
        self.hours: dict[int, gen.StreamHour] = {}
        self.progress: dict[int, list[dict]] = {}

    def before_op(self, i: int) -> None:
        """Drop hour ``i``: write it aside, then rename it into the watched
        directory so each file appears whole."""
        self.hours[i] = gen.write_stream_hour(self.seed, self.catalog, i, self.staging)
        for f in self.hours[i].files:
            dest = os.path.join(self.drop_dir, os.path.basename(f))
            os.rename(f, dest)
            self.dropped.append(dest)

    def op(self, i: int) -> None:
        q = self.kpis.start_kpi_stream(
            self.spark, self.drop_dir, self.songs, self.target, self.checkpoint, available_now=True
        )
        q.awaitTermination()
        if self.tracer.enabled:
            self.progress[i] = [json.loads(p.json) for p in q.recentProgress]

    def check(self) -> list[str]:
        return check_kpi_stream(self.dropped, self.songs_path, read_parquet_dir(self.target))

    def add_layer_metrics(self, i: int, m: dict) -> None:
        m.update(streaming_op_metrics(self.progress.get(i, [])))
        m["sources.upsert_amplification"] = m["sources.upsert_rows_written"] / self.hours[i].keys


WORKLOADS = {"kpi_batch": KpiBatch, "kpi_stream": KpiStream}
