"""Streaming maintenance of the continuous aggregate.

``operators/rollup.py`` answers coarse-grain questions from a daily
pre-aggregate; this module keeps that pre-aggregate CURRENT from an
event stream instead of nightly fact re-scans — the incremental
materialized-view shape (cf. the reference's hourly full reprocess,
``dags/music_streaming_etl_dags.py:349``).

Mechanics: event-time tumbling day window with a watermark, update
output mode — streaming state holds each open day's running totals,
so every micro-batch emits FULL totals for the days it touched. The
``foreachBatch`` sink therefore *replaces* rows by day-key (the
existing staging MERGE), never adds partials — idempotent under
micro-batch replay, which is what makes the sink exactly-once on top
of at-least-once batch delivery. Watermark closes state for days older
than the allowed lateness, keeping state bounded by (open days ×
keys) regardless of stream length.

The maintained parquet is ``reaggregate``-compatible: monthly answers
come from the streamed daily table exactly as in the batch path
(asserted end-to-end in ``tests/test_streaming_rollup.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .kpis import start_upsert_stream


def daily_rollup_stream(
    events: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming daily pre-aggregate: decimal-exact value sums and
    event counts per (day, keys), tolerating ``watermark`` lateness."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"), *keys)
        .agg(
            F.sum(F.col(value_col).cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(F.col("w.start").alias("bucket"), *keys, "total_value", "n_events")
    )


def start_daily_rollup_sink(
    daily: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
) -> StreamingQuery:
    """Drain the streaming pre-aggregate into a parquet rollup table,
    replacing touched (bucket, keys) rows each micro-batch."""
    return start_upsert_stream(daily, path, ["bucket", *keys], checkpoint)


def hist_rollup_stream(
    events: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming maintenance of the QUANTILE pre-aggregate
    (``operators/rollup.py::hist_rollup``): per (day, keys, bidx)
    counts with the identical grid expression, so the streamed table
    is row-compatible with the batch histogram — ``hist_reaggregate``
    and ``hist_quantiles`` run unchanged on it, giving live p50/p99
    dashboards without ever re-scanning facts. State per open day is
    ≤ n_buckets × |keys| counters; the update-mode sink replaces
    touched (day, keys, bidx) rows idempotently, exactly like the
    continuous aggregate."""
    span = float(hi) - float(lo)
    idx = F.floor(
        (F.col(value_col).cast("double") - F.lit(float(lo)))
        / F.lit(span)
        * F.lit(n_buckets)
    )
    bidx = F.least(F.greatest(idx, F.lit(0)), F.lit(n_buckets - 1)).cast("bigint")
    return (
        events.withWatermark(ts_col, watermark)
        .withColumn("bidx", bidx)
        .groupBy(F.window(F.col(ts_col), "1 day").alias("w"), *keys, "bidx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.col("w.start").alias("bucket"), *keys, "bidx", "cnt")
    )


def start_hist_rollup_sink(
    hist: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
) -> StreamingQuery:
    """Drain the streaming histogram into a parquet sketch table,
    replacing touched (bucket, keys, bidx) rows each micro-batch."""
    return start_upsert_stream(hist, path, ["bucket", *keys, "bidx"], checkpoint)


def cms_rollup_stream(
    events: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    item_col: str,
    depth: int = 4,
    width: int = 1024,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming maintenance of the count-min FREQUENCY sketch
    (``operators/rollup.py::cms_rollup``): identical md5 counter
    construction per (day, keys, row_i, col_j), so the streamed table
    merges and estimates with the batch helpers unchanged. State per
    open day is ≤ depth·width counters per key group — bounded however
    hot the stream."""
    item = F.col(item_col).cast("string")
    exploded = (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            *keys,
            item.alias("__item"),
            F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_i"),
        )
    )
    col_j = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("row_i").cast("string"), F.lit(":"), F.col("__item"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(width)
    )
    return (
        exploded.withColumn("col_j", col_j)
        .groupBy(
            F.window(F.col(ts_col), "1 day").alias("w"), *keys, "row_i", "col_j"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.col("w.start").alias("bucket"), *keys, "row_i", "col_j", "cnt")
    )


def start_cms_rollup_sink(
    cms: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
) -> StreamingQuery:
    """Drain the streaming CMS into a parquet sketch table, replacing
    touched (bucket, keys, row_i, col_j) rows each micro-batch."""
    return start_upsert_stream(
        cms, path, ["bucket", *keys, "row_i", "col_j"], checkpoint
    )
