"""Structured Streaming mode for the KPI pipeline (SURVEY.md §2.7/§7
Phase 4).

The reference has no true streaming — it reprocesses the full batch
hourly (``schedule_interval="@hourly"``,
``dags/music_streaming_etl_dags.py:349``) and drops/rebuilds the KPI
tables each run (``:253-257``). Late events simply land in the next
run. This module is the semantic upgrade expressed on Structured
Streaming:

- file source over a streams directory (new CSV files = new events —
  exactly the reference's S3 drop zone);
- event-time tumbling window ``window(listen_time, '1 hour')`` with a
  watermark: a true per-(date, hour) grain instead of the reference's
  hour-of-day-across-all-days (``:199``) — documented divergence, the
  batch path keeps the reference grain;
- ``approx_count_distinct`` for unique listeners — exact per-group
  distinct isn't expressible in streaming agg state (SURVEY §7
  "what's hard" #4); the HLL sketch is the scale answer both for
  streaming and the 100 TB batch;
- ``foreachBatch`` upsert sink via the staging MERGE — which also
  delivers the assignment PDF's unimplemented upsert deliverable in
  streaming form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import STREAMS
from ..sources.upsert import upsert_parquet


def read_stream_csv(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of the drop-zone directory with the declared
    STREAMS schema (never inferred)."""
    return spark.readStream.schema(STREAMS).option("header", True).csv(path)


def start_upsert_stream(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The keyed-upsert sink: drain the update-mode stream ``df`` into
    the parquet table at ``path``, each micro-batch MERGEd on ``keys``
    by ``upsert_parquet``. Update-mode aggregate and per-key state
    output is one row per key per batch, so the staging frame is
    unique on ``keys`` by construction. An empty batch (the no-data
    trigger that only advances the watermark) writes nothing.
    ``available_now=True`` drains what the source holds, then stops."""

    def sink(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_parquet(batch.sparkSession, batch, path, keys=keys, staging_unique=True)

    writer = (
        df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_kpis(
    streams: DataFrame,
    songs: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(window, genre) streaming aggregation: listen counts, HLL
    unique listeners, diversity. Joins the static songs dim
    (stream-static join — no state, dim broadcast each microbatch)."""
    songs_needed = songs.select("track_id", "track_genre", "duration_ms")
    enriched = streams.withWatermark("listen_time", watermark).join(
        F.broadcast(songs_needed), "track_id", "left"
    )
    return (
        enriched.filter(F.col("track_genre").isNotNull())
        .groupBy(
            F.window("listen_time", "1 hour").alias("win"),
            "track_genre",
        )
        .agg(
            F.count("track_id").alias("listen_count"),
            F.avg("duration_ms").alias("avg_track_duration"),
            F.approx_count_distinct("user_id").alias("unique_listeners"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.to_date("win.start").alias("date"),
            F.hour("win.start").alias("hour"),
            "track_genre",
            "listen_count",
            "avg_track_duration",
            "unique_listeners",
        )
    )


def windowed_artist_counts(
    streams: DataFrame, songs: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Per-(window, artist) play counts — the streaming state for
    top-k. Streaming can't hold an ordered top-k per window in agg
    state, but it CAN hold the counts; the k-selection happens at read
    time (``read_top_artists``), which is both deterministic and the
    standard lambda-free design: state grows with |window × artist|,
    bounded by the watermark."""
    songs_needed = songs.select("track_id", "artists")
    enriched = streams.withWatermark("listen_time", watermark).join(
        F.broadcast(songs_needed), "track_id", "left"
    )
    return (
        enriched.filter(F.col("artists").isNotNull())
        .groupBy(F.window("listen_time", "1 hour").alias("win"), "artists")
        .agg(F.count(F.lit(1)).alias("plays"))
        .select(
            F.col("win.start").alias("window_start"),
            "artists",
            "plays",
        )
    )


def read_top_artists(spark: SparkSession, counts_path: str, k: int = 5) -> DataFrame:
    """Deterministic top-k over the streaming counts table:
    (window_start, rank, artists, plays) with the engine's total order
    (plays DESC, artists ASC) — same tie-break as the batch A5 op."""
    from pyspark.sql import Window

    counts = spark.read.parquet(counts_path)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("plays"), F.asc("artists")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "rank", "artists", "plays")
    )


def start_artist_count_stream(
    spark: SparkSession,
    stream_dir: str,
    songs: DataFrame,
    counts_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Source → (window, artist) counts → upsert sink keyed on
    (window_start, artists): re-emitted windows replace their rows."""
    counts = windowed_artist_counts(read_stream_csv(spark, stream_dir), songs)
    return start_upsert_stream(
        counts, counts_path, ["window_start", "artists"], checkpoint_dir
    )


def start_kpi_stream(
    spark: SparkSession,
    stream_dir: str,
    songs: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    watermark: str = "1 hour",
):
    """Wire source → windowed agg → upsert sink keyed on
    (window_start, track_genre).

    ``available_now=True`` drains everything currently in the
    directory then stops — the batch-equivalent trigger used in tests
    and backfills; continuous deployments drop it for the default
    micro-batch trigger. Late-arriving data re-emits a window and the
    MERGE replaces the stale row. Every data trigger still reads and
    rewrites the whole target, not only the affected windows (ROADMAP
    item 2).
    """
    kpis = windowed_kpis(read_stream_csv(spark, stream_dir), songs, watermark)
    return start_upsert_stream(
        kpis,
        target_path,
        ["window_start", "track_genre"],
        checkpoint_dir,
        available_now,
    )
