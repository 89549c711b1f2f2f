"""transformWithStateInPandas (Spark 4 arbitrary-state API, RocksDB
state store): streaming running aggregate == batch twin across
micro-batch decompositions; state survives between batches.

The end-to-end run needs ``google.protobuf`` — a runtime dependency
of pyspark's transformWithState state-server protocol that this
container doesn't ship — so it skips here (same honesty rule as the
media decoders). Plan construction and the batch twin are asserted
unconditionally.
"""

from __future__ import annotations

import datetime as dt
import importlib.util

import pytest

from music_streaming_etl_spark.streaming.kpis import start_upsert_stream
from music_streaming_etl_spark.streaming.state import (
    ROCKSDB_PROVIDER,
    user_activity_batch,
    user_activity_stream,
)

try:
    HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # parent 'google' namespace absent entirely
    HAS_PROTOBUF = False

SCHEMA = "event_id long, user_id long, ts timestamp, value double"


def _write_csv(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").option(
        "header", True
    ).csv(path)


def _drain(spark, stream_dir, out, ckpt):
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    events = (
        spark.readStream.schema(SCHEMA).option("header", True).csv(stream_dir)
    )
    acts = user_activity_stream(events)
    q = start_upsert_stream(acts, out, ["user_id"], ckpt)
    q.awaitTermination(180)


def test_stream_plan_builds_and_batch_twin_is_exact(spark, tmp_path):
    """Runs everywhere: the unbounded plan must analyze (catches
    schema/UDF signature drift without the state server), and the
    batch twin must produce cents-exact totals."""
    stream_dir = str(tmp_path / "in")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, t0, 10.25),
        (2, 1, t0 + dt.timedelta(seconds=10), 0.75),
        (3, 2, t0, 99.99),
    ]
    _write_csv(spark, rows, stream_dir)
    events = (
        spark.readStream.schema(SCHEMA).option("header", True).csv(stream_dir)
    )
    acts = user_activity_stream(events)
    assert acts.isStreaming
    assert [f.name for f in acts.schema.fields] == [
        "user_id", "n_events", "v_cents", "last_ts",
    ]

    got = {
        r["user_id"]: (r["n_events"], r["v_cents"], r["last_ts"])
        for r in user_activity_batch(
            spark.createDataFrame(rows, SCHEMA)
        ).collect()
    }
    assert got == {
        1: (2, 1100, t0 + dt.timedelta(seconds=10)),
        2: (1, 9999, t0),
    }


@pytest.mark.skipif(
    not HAS_PROTOBUF,
    reason="pyspark transformWithState needs google.protobuf at runtime "
    "(state-server protocol); not shipped in this container",
)
def test_transform_with_state_matches_batch(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "acts")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)

    batch1 = [
        (1, 1, s(0), 10.25),
        (2, 1, s(10), 0.75),
        (3, 2, s(5), 99.99),
        (4, 3, s(2), 1.01),
    ]
    batch2 = [
        (5, 1, s(20), 5.00),       # user 1 keeps accumulating
        (6, 2, s(1), 0.01),        # out-of-order: count still grows,
                                   # last_ts stays the max
        (7, 4, s(30), 123.45),     # brand-new user mid-stream
    ]
    _write_csv(spark, batch1, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    _write_csv(spark, batch2, stream_dir)
    _drain(spark, stream_dir, out, ckpt)

    streamed = {
        r["user_id"]: (r["n_events"], r["v_cents"], r["last_ts"])
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == {
        1: (3, 1600, s(20)),
        2: (2, 10000, s(5)),
        3: (1, 101, s(2)),
        4: (1, 12345, s(30)),
    }

    # cents-exact equality with the batch twin over ALL events
    all_events = spark.createDataFrame(batch1 + batch2, SCHEMA)
    batch = {
        r["user_id"]: (r["n_events"], r["v_cents"], r["last_ts"])
        for r in user_activity_batch(all_events).collect()
    }
    assert streamed == batch
