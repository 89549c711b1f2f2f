"""Tests for validation operators (V1–V6) and the staging-table
upsert (the reference spec's unimplemented MERGE deliverable)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_spark.operators.validation import (
    ValidationError,
    check_no_nulls,
    check_nonempty,
    check_range,
    check_record_count,
    check_referential,
    check_types,
    validate,
)
from music_streaming_etl_spark.sources.upsert import merge_upsert, upsert_parquet


def test_checks_pass_and_fail(spark):
    df = spark.createDataFrame(
        [(1, "a", 5), (2, None, 30)], "id long, s string, h int"
    )
    assert check_nonempty(df).passed
    assert not check_nonempty(df.filter("id < 0")).passed
    assert check_no_nulls(df, ["id"]).passed
    r = check_no_nulls(df, ["s"])
    assert not r.passed and r.details["null_counts"] == {"s": 1}
    assert check_range(df, "h", 0, 23).passed is False  # 30 out of range
    assert check_range(df.filter("h <= 23"), "h", 0, 23).passed
    assert check_record_count(df, 2).passed


def test_check_types_cast_assertion(spark):
    df = spark.createDataFrame([("12",), ("x",)], "v string")
    r = check_types(df, {"v": "int"})
    assert not r.passed and r.details["uncastable"] == {"v": 1}
    assert check_types(df.filter("v = '12'"), {"v": "int"}).passed


def test_check_types_integral_gate_matches_try_cast(spark):
    """The regex fast-fail gate (which spares the per-row Java
    exception for uncastable strings) must agree with a raw try_cast
    on every edge shape: trimmed whitespace, signs, leading zeros,
    overflow (passes the gate, fails the cast), decimals, exponents,
    non-ASCII digits, NBSP (not trimmed by Spark), empty/blank."""
    from pyspark.sql import functions as F

    from music_streaming_etl_spark.operators.validation import uncastable

    vals = [
        "123", " 123 ", "+1", "-1", "-0", "007", "12\t", "\n5",
        "9223372036854775807", "9223372036854775808",  # max, overflow
        "999999999999999999999999", "1.5", "1.0", "1e2", "0x1A",
        "٣", "", "  ", " 5", "True", "1_000", "+ 1", ".5", "5.",
        None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    mismatch = df.filter(
        uncastable(F.col("v"), "bigint")
        != (F.col("v").isNotNull() & F.col("v").try_cast("bigint").isNull())
    )
    assert mismatch.count() == 0


def test_check_referential_orphans(spark):
    fact = spark.createDataFrame([(1,), (2,), (99,)], "k long")
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    r = check_referential(fact, dim, "k")
    assert not r.passed and r.details["orphans"] == 1


def test_validate_raises_with_all_failures(spark):
    df = spark.createDataFrame([(None,)], "x string")
    results = [check_no_nulls(df, ["x"]), check_nonempty(df)]
    with pytest.raises(ValidationError, match="no_nulls"):
        validate(results)
    assert validate(results, raise_on_fail=False) is False


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "old", 10), (2, "keep", 20)], "k long, v string, ver int"
    )
    staging = spark.createDataFrame(
        [(1, "new", 11), (3, "ins", 1), (3, "ins_newer", 2)],
        "k long, v string, ver int",
    )
    out = merge_upsert(target, staging, ["k"], order_by=["ver"]).collect()
    got = {r["k"]: (r["v"], r["ver"]) for r in out}
    # staging replaces key 1; target key 2 survives; staging-internal
    # dup of key 3 resolves to highest ver
    assert got == {1: ("new", 11), 2: ("keep", 20), 3: ("ins_newer", 2)}


def test_upsert_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    s1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k long, v string, ver int")
    upsert_parquet(spark, s1, path, ["k"], ["ver"])
    assert spark.read.parquet(path).count() == 2
    s2 = spark.createDataFrame([(2, "b2", 2), (3, "c", 1)], "k long, v string, ver int")
    upsert_parquet(spark, s2, path, ["k"], ["ver"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def test_upsert_parquet_finishes_an_interrupted_swap(spark, tmp_path, monkeypatch):
    """A failure after the old table is removed but before the merged
    copy is renamed into place loses nothing: the next call swaps the
    committed copy in first, then merges into it."""
    path = str(tmp_path / "tbl")
    schema = "k long, v string, ver int"
    s1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema)
    upsert_parquet(spark, s1, path, ["k"], ["ver"])

    rename = os.rename

    def fail_once(src, dst):
        monkeypatch.setattr(os, "rename", rename)
        raise OSError("interrupted before the swap")

    monkeypatch.setattr(os, "rename", fail_once)
    s2 = spark.createDataFrame([(2, "b2", 2), (3, "c", 1)], schema)
    with pytest.raises(OSError, match="interrupted"):
        upsert_parquet(spark, s2, path, ["k"], ["ver"])
    assert not os.path.exists(path)

    s3 = spark.createDataFrame([(4, "d", 1)], schema)
    upsert_parquet(spark, s3, path, ["k"], ["ver"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}


def test_upsert_parquet_keeps_a_partitioned_target(spark, tmp_path):
    """A Hive-partitioned target is a table, not an absent one: its
    unmatched rows survive the upsert."""
    path = str(tmp_path / "tbl")
    schema = "k long, v string, p int"
    target = spark.createDataFrame([(1, "a", 1), (2, "b", 2)], schema)
    target.write.partitionBy("p").parquet(path)
    s1 = spark.createDataFrame([(2, "b2", 2)], schema)
    upsert_parquet(spark, s1, path, ["k"], staging_unique=True)
    got = {r["k"]: (r["v"], r["p"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 1), 2: ("b2", 2)}


def test_observed_metrics_ride_the_write(spark, tmp_path):
    """observe(): quality metrics come from the SAME job as the sink
    write — no second scan — and match a direct aggregation."""
    from music_streaming_etl_spark.operators.validation import (
        observation_result,
        observed_quality_metrics,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id long, v string"
    )
    observed, obs = observed_quality_metrics(df, ["id", "v"])
    observed.write.mode("overwrite").parquet(str(tmp_path / "sink"))

    res = observation_result(obs, ["id", "v"])
    assert not res.passed  # v has nulls
    assert res.details["total_rows"] == 4
    assert res.details["null_counts"] == {"v": 2}
    # the sink got every row — metrics were a side effect, not a filter
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 4


def test_observed_metrics_pass_on_clean_frame(spark, tmp_path):
    from music_streaming_etl_spark.operators.validation import (
        observation_result,
        observed_quality_metrics,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    observed, obs = observed_quality_metrics(df, ["id", "v"])
    observed.write.mode("overwrite").parquet(str(tmp_path / "sink2"))
    res = observation_result(obs, ["id", "v"])
    assert res.passed and res.details["total_rows"] == 2


def test_check_freshness_fresh_stale_and_empty(spark):
    """V7: lag vs a pinned as-of; empty input fails CLOSED."""
    from music_streaming_etl_spark.operators.validation import check_freshness

    df = spark.createDataFrame(
        [("2024-01-30 23:00:00",), ("2024-01-15 00:00:00",)], "ts_s string"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"))
    as_of = "2024-01-31 12:00:00"
    r = check_freshness(df, "ts", max_lag_hours=48, as_of=as_of)
    assert r.passed and r.details["lag_seconds"] == 13 * 3600
    r = check_freshness(df, "ts", max_lag_hours=2, as_of=as_of)
    assert not r.passed
    r = check_freshness(df.filter("ts IS NULL"), "ts", 48, as_of=as_of)
    assert not r.passed and r.details["total_rows"] == 0


def test_check_unique_clean_dup_and_null_keys(spark):
    from music_streaming_etl_spark.operators.validation import check_unique

    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    r = check_unique(clean, ["k"])
    assert r.passed and r.details["duplicate_keys"] == 0

    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d")], "k long, v string"
    )
    r = check_unique(dup, ["k"])
    assert not r.passed
    assert r.details["duplicate_keys"] == 1
    assert r.details["rows_in_duplicate_keys"] == 2
    assert r.details["null_key_rows"] == 1

    # composite key: (1,x)+(1,y) unique, (2,x) twice is not
    comp = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "x")], "a long, b string"
    )
    r = check_unique(comp, ["a", "b"])
    assert not r.passed and r.details["duplicate_keys"] == 1
