"""The full reference pipeline, end-to-end: what
``etl_rds_s3_to_redshift_kpis`` (dags/music_streaming_etl_dags.py:
430-440) does across 10 Airflow tasks and five /tmp CSV handoffs,
as one lazy Spark program:

    extract users/songs (jdbc or file) ∥ extract streams (multi-CSV)
      → validate inputs (V1/V2, one aggregation pass each)
      → compute_kpis (shared join plan, two agg branches)
      → validate KPI outputs (V1/V3)
      → load genre_kpis + hourly_kpis (CSV, reference-DDL-shaped)

Differences from the reference, all deliberate and documented:
- no /tmp re-serialization between steps — Catalyst plans the whole
  DAG; ``cache()`` marks the one genuinely shared intermediate;
- validations run as aggregate actions on the same frames (only the
  1-row report is collected);
- the load step writes ``top_artists`` as the pandas list-literal
  string (``"['a', 'b']"``, ref :211) and casts to the Redshift DDL
  types (ref :260-279) so a Redshift COPY of our files is
  indistinguishable from the reference's.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import python_list_literal
from ..operators.validation import (
    CheckResult,
    check_no_nulls,
    check_nonempty,
    check_range,
    validate,
)
from ..schemas import STREAMS
from ..sources.io import scan_csv_multi, sink_csv
from .kpis import KpiResult, compute_kpis


@dataclass
class PipelineReport:
    input_checks: list
    output_checks: list
    genre_rows: int
    hourly_rows: int


def extract_streams(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """The S3 multi-object extract (ref :105-121) — one multi-path
    scan, declared schema, timestamp parsed at read."""
    return scan_csv_multi(spark, paths, STREAMS)


def genre_kpis_for_load(genre: DataFrame) -> DataFrame:
    """Cast to the Redshift DDL types (ref :260-268, :300-307)."""
    return genre.select(
        F.col("track_genre").cast("string"),
        F.col("date").cast("date"),
        F.col("listen_count").cast("bigint"),
        F.col("avg_track_duration").cast("double"),
        F.col("most_popular_track").cast("string"),
    )


def hourly_kpis_for_load(hourly: DataFrame) -> DataFrame:
    """Cast to DDL types + stringify the array exactly as pandas
    ``to_csv`` does (ref :272-279, :211, :308-311)."""
    return hourly.select(
        F.col("hour").cast("int"),
        F.col("unique_listeners").cast("bigint"),
        python_list_literal("top_artists").alias("top_artists"),
        F.col("track_diversity_index").cast("double"),
    )


def run_pipeline(
    spark: SparkSession,
    streams: DataFrame,
    songs: DataFrame,
    users: DataFrame,
    genre_out: str | None = None,
    hourly_out: str | None = None,
    raise_on_fail: bool = True,
    exact_distinct: bool = True,
) -> PipelineReport:
    """Execute the full flow. ``genre_out``/``hourly_out`` None skips
    the sink (validation-only run)."""
    input_checks: list[CheckResult] = [
        check_nonempty(streams, "streams_nonempty"),
        check_no_nulls(
            streams, ["user_id", "track_id", "listen_time"], "streams_no_nulls"
        ),
        check_nonempty(users, "users_nonempty"),
        check_nonempty(songs, "songs_nonempty"),
    ]
    validate(input_checks, raise_on_fail=raise_on_fail)

    res: KpiResult = compute_kpis(
        streams, songs, users, cache=True, exact_distinct=exact_distinct
    )
    genre = res.genre_kpis
    hourly = res.hourly_kpis

    output_checks = [
        check_nonempty(genre, "genre_kpis_nonempty"),
        check_nonempty(hourly, "hourly_kpis_nonempty"),
        check_range(hourly, "hour", 0, 23, "hour_range"),
        check_no_nulls(genre, ["track_genre", "date"], "genre_keys_no_nulls"),
    ]
    validate(output_checks, raise_on_fail=raise_on_fail)

    # the nonempty checks already counted both frames
    genre_rows = output_checks[0].details["total_rows"]
    hourly_rows = output_checks[1].details["total_rows"]
    if genre_out:
        sink_csv(genre_kpis_for_load(genre), genre_out, single_file=True)
    if hourly_out:
        sink_csv(hourly_kpis_for_load(hourly), hourly_out, single_file=True)
    res.merged.unpersist()
    return PipelineReport(input_checks, output_checks, genre_rows, hourly_rows)
