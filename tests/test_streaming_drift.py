"""Streaming per-dim drift == batch reduction for in-order batch
decompositions; integer state accumulates across micro-batches and
the L2 shift scalar matches a numpy reference."""

from __future__ import annotations

import math

import numpy as np

from music_streaming_etl_spark.streaming.drift import (
    drift_batch,
    drift_stream,
    l2_shift,
)
from music_streaming_etl_spark.streaming.kpis import start_upsert_stream

DIMS = 8
BASELINE = [0] * DIMS  # zero-centred reference centroid (micro-units)


def _vecs(seed, n):
    rng = np.random.default_rng(seed)
    return [
        (int(i), [float(x) for x in rng.normal(0.1, 0.5, DIMS)])
        for i in range(n)
    ]


def _write_parquet(spark, rows, path):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("append").parquet(path)


def _drain(spark, stream_dir, out, ckpt):
    vectors = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(stream_dir)
    q = start_upsert_stream(drift_stream(vectors, BASELINE), out, ["dim"], ckpt)
    q.awaitTermination(120)


def test_streaming_drift_matches_batch_and_numpy(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")
    b1, b2 = _vecs(1, 40), _vecs(2, 25)
    _write_parquet(spark, b1, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    mid = {r["dim"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert all(v == 40 for v in mid.values()) and len(mid) == DIMS

    _write_parquet(spark, b2, stream_dir)
    _drain(spark, stream_dir, out, ckpt)
    streamed = spark.read.parquet(out)
    got = {
        r["dim"]: (r["n"], r["mean_u"], r["gap_u"])
        for r in streamed.collect()
    }
    allvecs = spark.createDataFrame(
        b1 + b2, "vec_id long, embedding array<double>"
    )
    want = {
        r["dim"]: (r["n"], r["mean_u"], r["gap_u"])
        for r in drift_batch(allvecs, BASELINE).collect()
    }
    assert got == want  # integer state: bit-for-bit across batches

    # L2 shift matches an independent reference (truncating division,
    # matching Spark DIV) to the micro-unit quantum
    mat = np.array([v for _, v in b1 + b2])
    sums = [int(x) for x in np.floor(mat * 1e6).sum(axis=0)]
    n = len(mat)
    means = [
        (abs(s) // n) * (1 if s >= 0 else -1) for s in sums
    ]
    ref = math.sqrt(float(sum(m * m for m in means))) / 1e6
    assert abs(l2_shift(streamed) - ref) < 1e-9
