"""CSV source/sink option semantics (SURVEY §2.1 S4/S6): the
BLANKSASNULL/EMPTYASNULL → nullValue/emptyValue mapping, declared-
schema round-trips, and multi-path union."""

from __future__ import annotations

import glob

from pyspark.sql import types as T

from music_streaming_etl_spark.sources.io import scan_csv_multi, sink_csv

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("val", T.DoubleType(), True),
    ]
)


def test_null_value_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, 1.5), (2, "", 2.5), (3, "x", None)], SCHEMA
    )
    out = str(tmp_path / "csv_nulls")
    # Redshift COPY semantics: NULL AS 'NULL' marker, blanks preserved
    sink_csv(df, out, single_file=True, null_value="NULL", empty_value='""')
    raw = open(glob.glob(f"{out}/part-*.csv")[0]).read()
    assert "NULL" in raw  # explicit null marker written

    back = (
        spark.read.option("header", True)
        .option("nullValue", "NULL")
        .schema(SCHEMA)
        .csv(out)
    )
    rows = {r["id"]: (r["name"], r["val"]) for r in back.collect()}
    assert rows[1] == (None, 1.5)
    assert rows[2] == ("", 2.5)  # empty string survives (EMPTYASNULL off)
    assert rows[3] == ("x", None)


def test_optimize_table_compacts_small_files(spark, tmp_path):
    import glob as g

    from music_streaming_etl_spark.sources.io import optimize_table

    path = str(tmp_path / "fragmented")
    df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.parquet(path)  # 40 tiny files
    assert len(g.glob(f"{path}/*.parquet")) == 40
    n_after = optimize_table(spark, path, target_file_bytes=10**9)
    assert n_after == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(v)").collect()[0][0] == 2 * sum(range(10_000))


def test_multi_path_scan_unions(spark, tmp_path):
    a = spark.createDataFrame([(1, "a", 1.0)], SCHEMA)
    b = spark.createDataFrame([(2, "b", 2.0)], SCHEMA)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    sink_csv(a, pa)
    sink_csv(b, pb)
    both = scan_csv_multi(spark, [pa, pb], SCHEMA)
    assert sorted(r["id"] for r in both.collect()) == [1, 2]
    # CSV sources force nullable=True on every field — compare names+types
    assert [(f.name, f.dataType) for f in both.schema.fields] == [
        (f.name, f.dataType) for f in SCHEMA.fields
    ]


def test_s5_overwrite_replaces_object(spark, tmp_path):
    """S5 object-store semantics (ref dags/music_streaming_etl_dags.py
    :317-329 uploads with replace=True): a second overwrite write must
    leave exactly ONE data object containing only the new rows — no
    stale parts from the first write surviving beside it. The local
    filesystem stands in for the bucket; the writer code path is
    identical for s3a:// URIs."""
    out = str(tmp_path / "bucket" / "streams.csv")
    first = spark.createDataFrame([(1, "old"), (2, "old")], "id long, v string")
    second = spark.createDataFrame([(9, "new")], "id long, v string")

    sink_csv(first, out, mode="overwrite", single_file=True)
    parts_before = glob.glob(out + "/part-*")
    assert len(parts_before) == 1

    sink_csv(second, out, mode="overwrite", single_file=True)
    parts = glob.glob(out + "/part-*")
    assert len(parts) == 1  # single object, old parts gone
    with open(parts[0]) as fh:
        content = fh.read().strip().splitlines()
    assert content == ["id,v", "9,new"]

    # and the re-read sees only the replacement rows
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    back = scan_csv_multi(spark, out, schema)
    assert [(r["id"], r["v"]) for r in back.collect()] == [(9, "new")]


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """partitionOverwriteMode=dynamic: rewriting one partition's data
    must leave sibling partitions intact (static mode would drop the
    whole table root) — the idempotent-backfill semantics a daily
    pipeline needs: re-run one day, don't clobber history."""
    out = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")],
        "id long, day string",
    )
    df.write.partitionBy("day").mode("overwrite").parquet(out)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix = spark.createDataFrame([(9, "2024-01-02")], "id long, day string")
        fix.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    # partition values read back type-inferred (DateType) — compare as str
    got = {
        (r["id"], str(r["day"])) for r in spark.read.parquet(out).collect()
    }
    # day 1 untouched, day 2 fully replaced by the backfill
    assert got == {(1, "2024-01-01"), (2, "2024-01-01"), (9, "2024-01-02")}


def test_permissive_scan_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from music_streaming_etl_spark.sources.io import scan_csv_permissive

    p = tmp_path / "in.csv"
    p.write_text(
        "user_id,amount\n"
        "1,10.5\n"
        "not_a_number,oops,extra\n"   # wrong arity + uncastable
        "2,20.0\n"
        "3,bad_amount\n"              # uncastable amount
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    clean, quarantine = scan_csv_permissive(spark, str(p), schema)
    got = sorted((r["user_id"], r["amount"]) for r in clean.collect())
    assert got == [(1, 10.5), (2, 20.0)]
    bad = sorted(r["raw_line"] for r in quarantine.collect())
    assert bad == ["3,bad_amount", "not_a_number,oops,extra"]
    # quarantine keeps the ORIGINAL line — repair-and-replay ready
    assert all("," in line for line in bad)
