"""Focused tests for the scale-adaptive scan fan-out
(``operators/fanout.py``, round-9 optimization).

The operator must (a) fire on layouts that cannot feed the session's
cores (the driver testdata: one parquet file, one row group), (b) stay
an exact no-op on layouts that already provide enough splits — the
100 TB case — and (c) never change results, only partitioning.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_spark.operators.fanout import (
    _effective_splits,
    fan_out_scan,
)
from music_streaming_etl_spark.sources.io import _footer_memo, table_layout


def test_effective_splits_single_row_group(sf_dir):
    _footer_memo.cache_clear()
    n = _effective_splits(f"{sf_dir}/lineitem.parquet", 32)
    assert n == 1, "driver testdata is one row group per table"


def test_effective_splits_many_files_short_circuits(spark, tmp_path):
    out = str(tmp_path / "many")
    spark.range(1000).withColumn("k", F.col("id") % 7).repartition(
        8
    ).write.mode("overwrite").parquet(out)
    _footer_memo.cache_clear()
    assert _effective_splits(out, 4) >= 4, "8 files >= parallelism of 4"


def test_fan_out_fires_on_single_split(spark, sf_dir):
    _footer_memo.cache_clear()
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fanned = fan_out_scan(
        df, spark, f"{sf_dir}/lineitem.parquet", "l_orderkey"
    )
    plan = fanned._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan or "Repartition" in plan
    # partition count follows the session, not a constant
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_fan_out_noop_on_well_split_input(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "split")
    spark.range(10_000).withColumn("k", F.col("id") % 97).repartition(
        par
    ).write.mode("overwrite").parquet(out)
    _footer_memo.cache_clear()
    df = spark.read.parquet(out)
    fanned = fan_out_scan(df, spark, out, "id")
    assert fanned is df, "enough splits -> identity, no added exchange"


def test_fan_out_preserves_results(spark, sf_dir):
    _footer_memo.cache_clear()
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fanned = fan_out_scan(
        df, spark, f"{sf_dir}/lineitem.parquet", "l_orderkey"
    )
    base = df.groupBy("l_returnflag").count()
    fan = fanned.groupBy("l_returnflag").count()
    assert sorted(base.collect()) == sorted(fan.collect())


def test_fan_out_unreadable_metadata_is_noop(spark, tmp_path):
    """A path whose footers cannot be read must leave the plan alone
    (assume well-split) rather than fail or blindly repartition."""
    bogus = str(tmp_path / "nope.parquet")
    with open(bogus, "wb") as f:
        f.write(b"not parquet")
    _footer_memo.cache_clear()
    df = spark.range(10)
    assert fan_out_scan(df, spark, bogus, "id") is df


@pytest.mark.parametrize("name", ["lineitem", "events", "documents"])
def test_splits_cache_is_metadata_only(sf_dir, name):
    """The memo caches file-layout metadata (like Spark's own
    file-status cache), never query results."""
    _footer_memo.cache_clear()
    path = f"{sf_dir}/{name}.parquet"
    a = _effective_splits(path, 16)
    # one memo entry, keyed by the layout stamp alone (no parallelism);
    # its value is a row-group count (an int), never rows/results
    assert _footer_memo.cache_info().currsize == 1
    memo = _footer_memo(table_layout(path), None)
    assert list(memo) == ["row_groups"] and isinstance(memo["row_groups"], int)
    assert _effective_splits(path, 16) == a
    assert isinstance(a, int)
    assert os.path.exists(path)


def test_effective_splits_recurses_nested_layout(spark, tmp_path):
    """ADVICE r9: a Hive-partitioned/nested directory (no top-level
    *.parquet) must report its true file count, not 0 — a 0 would
    have added a full-table exchange to an already-well-split layout."""
    root = str(tmp_path / "part_table")
    spark.range(100).withColumn("p", F.col("id") % 4).write.partitionBy(
        "p"
    ).parquet(root)
    _footer_memo.cache_clear()
    n_files = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs
    )
    assert _effective_splits(root, 2) >= min(n_files, 2)
    # well-split for a small parallelism -> no-op
    df = spark.read.parquet(root)
    if n_files >= 2:
        assert fan_out_scan(df, spark, root, "id") is df


def test_effective_splits_empty_dir_is_well_split(spark, tmp_path):
    """ADVICE r9: a directory with no parquet entries behaves like the
    unreadable-metadata path — assume well-split, leave the plan
    alone."""
    empty = str(tmp_path / "empty_dir")
    os.makedirs(empty)
    _footer_memo.cache_clear()
    df = spark.range(10)
    assert fan_out_scan(df, spark, empty, "id") is df


def test_splits_cache_invalidates_on_rewrite(spark, tmp_path):
    """ADVICE r9: rewriting a table in-process (different layout) must
    not serve the stale split count — the memo key carries a file
    count + size + mtime stamp."""
    import pyspark.sql.functions as SF

    path = str(tmp_path / "rw")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(path)
    _footer_memo.cache_clear()
    first = _effective_splits(path, 8)
    assert first < 8  # one file, one row group
    spark.range(1000).repartition(8, SF.col("id")).write.mode(
        "overwrite"
    ).parquet(path)
    second = _effective_splits(path, 8)
    assert second >= 8  # fresh stamp -> fresh count, not the memo


def test_in_place_part_rewrite_refreshes_schema_and_splits(spark, tmp_path):
    """A part file rewritten under its own name, with an added column
    and more row groups, leaves the directory's own stat unchanged.
    The ``_t`` read must still return the new column, and the split
    count must be recomputed: the layout is stamped per data file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from music_streaming_etl_spark.plans.testdata_queries import _t

    table = tmp_path / "tbl.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    ids = list(range(100))
    pq.write_table(pa.table({"a": ids}), part)
    assert _t(spark, str(tmp_path), "tbl").columns == ["a"]
    assert _effective_splits(str(table), 8) == 1
    dir_stat = os.stat(table)
    pq.write_table(pa.table({"a": ids, "b": ids}), part, row_group_size=25)
    # the premise: the directory's own stamp did not move
    assert os.stat(table).st_mtime_ns == dir_stat.st_mtime_ns
    assert os.stat(table).st_size == dir_stat.st_size
    df = _t(spark, str(tmp_path), "tbl")
    assert df.columns == ["a", "b"]
    assert df.selectExpr("sum(b)").collect()[0][0] == sum(ids)
    assert _effective_splits(str(table), 8) == 4
