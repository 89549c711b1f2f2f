"""The full reference pipeline, end-to-end: what
``etl_rds_s3_to_redshift_kpis`` (dags/music_streaming_etl_dags.py:
430-440) does across 10 Airflow tasks and five /tmp CSV handoffs,
as one lazy Spark program:

    extract users/songs (jdbc or file) ∥ extract streams (multi-CSV)
      → validate inputs (streams V1+V2 in one aggregate; users and
        songs V1 by ``isEmpty()``, which stops at the first row)
      → compute_kpis (shared join plan, two agg branches)
      → cache each KPI output and validate it in one aggregate
        (genre V1+V2, hourly V1+V3)
      → load genre_kpis + hourly_kpis from those caches (CSV,
        reference-DDL-shaped)

Differences from the reference, all deliberate and documented:
- no /tmp re-serialization between steps — Catalyst plans the whole
  DAG; ``cache()`` marks what more than one action reads: the join
  both KPI branches consume, and each KPI output, which its check
  and its sink both read. All three are released on every exit path,
  a failed check included;
- each checked frame is aggregated once (only the 1-row report is
  collected); V1 reads the ``total_rows`` that pass counts, and the
  report's row counts come from the same totals;
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


def _nonempty(check: CheckResult, name: str) -> CheckResult:
    """V1 from the ``total_rows`` another check of the same frame
    counted."""
    n = check.details["total_rows"]
    return CheckResult(name, n > 0, {"total_rows": n})


def run_pipeline(
    spark: SparkSession,
    streams: DataFrame,
    songs: DataFrame,
    users: DataFrame,
    genre_out: str | None = None,
    hourly_out: str | None = None,
    exact_distinct: bool = True,
) -> PipelineReport:
    """Execute the full flow. ``genre_out``/``hourly_out`` None skips
    the sink (validation-only run). Any failed check raises before a
    sink is written."""
    streams_nulls = check_no_nulls(
        streams, ["user_id", "track_id", "listen_time"], "streams_no_nulls"
    )
    input_checks: list[CheckResult] = [
        _nonempty(streams_nulls, "streams_nonempty"),
        streams_nulls,
        check_nonempty(users, "users_nonempty"),
        check_nonempty(songs, "songs_nonempty"),
    ]
    validate(input_checks)

    res: KpiResult = compute_kpis(
        streams, songs, users, cache=True, exact_distinct=exact_distinct
    )
    genre = res.genre_kpis.cache()
    hourly = res.hourly_kpis.cache()
    try:
        genre_keys = check_no_nulls(
            genre, ["track_genre", "date"], "genre_keys_no_nulls"
        )
        hour_range = check_range(hourly, "hour", 0, 23, "hour_range")
        output_checks = [
            _nonempty(genre_keys, "genre_kpis_nonempty"),
            _nonempty(hour_range, "hourly_kpis_nonempty"),
            hour_range,
            genre_keys,
        ]
        validate(output_checks)
        if genre_out:
            sink_csv(genre_kpis_for_load(genre), genre_out, single_file=True)
        if hourly_out:
            sink_csv(hourly_kpis_for_load(hourly), hourly_out, single_file=True)
    finally:
        # the outputs first: releasing ``merged`` while they are still
        # cached would re-plan them over the uncached join
        for df in (genre, hourly, res.merged):
            df.unpersist()
    return PipelineReport(
        input_checks,
        output_checks,
        genre_keys.details["total_rows"],
        hour_range.details["total_rows"],
    )
