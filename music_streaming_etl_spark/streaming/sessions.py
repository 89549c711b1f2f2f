"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (the escape hatch for operators Structured
Streaming's built-in windows can't express — SURVEY.md §2.7 / build
charter "custom stateful operators").

Per user, events within ``gap_seconds`` of each other belong to one
session; a longer silence closes the session and starts the next. The
batch twin (identical semantics on bounded data) is
``plans/analytics_queries.py::q_sessionize_events`` — lag + cumulative
sum — which is what the oracle checks; this streaming form maintains
(last_ts, session_id, session_event_count) as typed GroupState across
micro-batches, so sessions stitch correctly across batch boundaries.

Scale: state is O(active users), partitioned by the grouping key;
Spark shuffles each micro-batch by user_id and pins state to
partitions. The state payload is 3 scalars — no per-event growth.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .kpis import start_upsert_stream

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_epoch", T.DoubleType(), True),
        T.StructField("session_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
    ]
)


def make_sessionizer(gap_seconds: int = 1800):
    """Returns the per-group state function. Events inside each
    micro-batch are sorted by (ts, event_id) before stitching — state
    transitions are deterministic for a given batch decomposition."""

    def sessionize(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_epoch, session_id, n_events = state.get
        else:
            last_epoch, session_id, n_events = None, 0, 0

        last_ts = None
        # applyInPandasWithState may deliver one group's batch as
        # MULTIPLE chunks — concatenate and sort ONCE across the whole
        # group; per-chunk sorting would stitch events in chunk order,
        # not global (ts, event_id) order.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for ts in pdf["ts"]:
                epoch = ts.timestamp()
                if last_epoch is not None and epoch - last_epoch > gap_seconds:
                    session_id += 1
                    n_events = 0
                n_events += 1
                last_epoch = epoch
                last_ts = ts
        state.update((last_epoch, session_id, n_events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_id": [session_id],
                "n_events": [n_events],
                "last_ts": [last_ts],
            }
        )

    return sessionize


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Wire the stateful operator: shuffle by user, maintain session
    state, emit the current session row per user per batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_seconds),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_session_stream(
    spark,
    stream_dir: str,
    schema: T.StructType,
    target_path: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
):
    """File-source → stateful sessionize → upsert sink (latest session
    row per user)."""
    events = (
        spark.readStream.schema(schema).option("header", True).csv(stream_dir)
    )
    sessions = sessionize_stream(events, gap_seconds)
    return start_upsert_stream(sessions, target_path, ["user_id"], checkpoint_dir)


CLOSED_SCHEMA = T.StructType(
    list(OUTPUT_SCHEMA.fields)
    + [T.StructField("closed", T.BooleanType(), False)]
)


def make_finalizing_sessionizer(gap_seconds: int = 1800):
    """Sessionizer that also FINALIZES: when the event-time watermark
    passes ``last_ts + gap`` with no new events, the group times out,
    the closed session is emitted once with ``closed=true``, and its
    state is dropped. Open sessions stream as ``closed=false`` updates
    exactly like ``make_sessionizer``.

    This is the completeness half the NoTimeout form can't give:
    downstream consumers get a definitive end-of-session record (and
    state size tracks ACTIVE users only — timed-out state is freed,
    the boundedness a 100 TB deployment needs for long-running
    queries).
    """

    def sessionize(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            last_epoch, session_id, n_events = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_id": [session_id],
                    "n_events": [n_events],
                    "last_ts": [pd.Timestamp(last_epoch, unit="s")],
                    "closed": [True],
                }
            )
            return

        if state.exists:
            last_epoch, session_id, n_events = state.get
        else:
            last_epoch, session_id, n_events = None, 0, 0
        last_ts = None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for ts in pdf["ts"]:
                epoch = ts.timestamp()
                if last_epoch is not None and epoch - last_epoch > gap_seconds:
                    session_id += 1
                    n_events = 0
                n_events += 1
                last_epoch = epoch
                last_ts = ts
        state.update((last_epoch, session_id, n_events))
        # fire when the WATERMARK (not wall clock) passes the gap end
        state.setTimeoutTimestamp(int((last_epoch + gap_seconds) * 1000))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_id": [session_id],
                "n_events": [n_events],
                "last_ts": [last_ts],
                "closed": [False],
            }
        )

    return sessionize


def sessionize_stream_finalizing(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked variant of ``sessionize_stream`` that emits closed
    sessions via event-time timeouts. ``events`` must carry ``ts``."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_finalizing_sessionizer(gap_seconds),
            outputStructType=CLOSED_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_native(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ENGINE-NATIVE streaming sessionization: the same
    ``session_window`` aggregation the batch ``sessionize_native``
    query runs, under a watermark — Spark's ``UpdatingSessionsExec``
    merges gap-adjacent state server-side and emits each session ONCE
    when the watermark passes its close (append mode), with state
    freed on emit. Contrast with the two custom sessionizers above:
    zero user code holds state, at the price of fixed output columns
    and the engine's ``[start, last+gap)`` close rule (documented on
    the batch twin)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
