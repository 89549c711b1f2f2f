"""Source/sink operators (SURVEY.md §2.1, S1–S8).

The reference's I/O surface: full-table JDBC SELECTs from Postgres
(``dags/music_streaming_etl_dags.py:55-63,96-100``), multi-object S3
CSV reads with a concat loop (``:105-121``), /tmp CSV handoffs between
Airflow tasks (``:42-46``), an S3 upload (``:317-329``) and a Redshift
COPY (``:83-92,382-410``). In Spark the handoffs disappear — one lazy
plan — and each endpoint becomes a DataFrameReader/Writer:

- multi-path CSV read subsumes the download-and-concat loop (S2);
- a CSV write IS the S3 upload when the path is ``s3a://`` (S5);
- COPY options map to writer options (S6): BLANKSASNULL/EMPTYASNULL →
  ``nullValue``/``emptyValue``, MAXERROR 0 → default fail-fast,
  IGNOREHEADER 1 → ``header``.

JDBC helpers are import-gated: no Postgres driver ships in this
container, so they build the reader/writer config but only execute
when a driver jar is present.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scan_csv_multi(
    spark: SparkSession,
    paths: Sequence[str] | str,
    schema: T.StructType,
    timestamp_format: str | None = None,
    header: bool = True,
) -> DataFrame:
    """S2 — read N CSV files/dirs as one DataFrame with a declared
    schema (never inferred — the reference re-infers at every hop,
    ref :118,152,174-176). Multi-path replaces the reference's
    per-object download + ``pd.concat`` loop (:114-120)."""
    reader = spark.read.option("header", header).schema(schema)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if isinstance(paths, str):
        paths = [paths]
    return reader.csv(list(paths))


def sink_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    timestamp_format: str | None = None,
    single_file: bool = False,
    null_value: str | None = None,
    empty_value: str | None = None,
) -> None:
    """S4/S5/S6-options — headered CSV write (ref :101-102,210-211).

    ``single_file=True`` coalesces to one partition to mirror the
    reference's one-file-per-table layout — correctness/compat mode
    only. The default writes one file per partition (the scale path:
    parallel writers, no driver bottleneck). ``null_value`` /
    ``empty_value`` mirror Redshift COPY's BLANKSASNULL/EMPTYASNULL
    (ref :89-90)."""
    out = df.coalesce(1) if single_file else df
    w = out.write.mode(mode).option("header", True)
    if timestamp_format:
        w = w.option("timestampFormat", timestamp_format)
    if null_value is not None:
        w = w.option("nullValue", null_value)
    if empty_value is not None:
        w = w.option("emptyValue", empty_value)
    w.csv(path)


class TableLayout(NamedTuple):
    """A local parquet table's data files, stamped by one rule: file
    count, total bytes and newest mtime over every data file. A rewrite
    of any part file changes the stamp, in place or not, so the tuple
    itself keys the footer memo."""

    path: str
    files: tuple[str, ...]
    total_bytes: int
    max_mtime_ns: int


def table_layout(path: str) -> TableLayout | None:
    """The data files of the parquet table at ``path``: its top-level
    ``*.parquet`` entries, or, when there are none, every ``*.parquet``
    below it (a Hive-partitioned or nested layout). ``None`` when the
    path cannot be listed locally (a remote scheme, a missing path) or
    holds no data file; callers then do a plain read or assume the
    table is well split."""
    try:
        if os.path.isdir(path):
            files = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ) or sorted(
                os.path.join(root, f)
                for root, _dirs, names in os.walk(path)
                for f in names
                if f.endswith(".parquet")
            )
        else:
            files = [path]
        stats = [os.stat(f) for f in files]
    except OSError:
        return None
    if not files:
        return None
    return TableLayout(
        path,
        tuple(files),
        sum(st.st_size for st in stats),
        max(st.st_mtime_ns for st in stats),
    )


@functools.lru_cache(maxsize=256)
def _footer_memo(layout: TableLayout, app_id: str | None) -> dict:
    """The memo of one stamped layout: the returned dict itself, which
    callers fill with footer facts once and read until the stamp
    changes (a new stamp is a new key). Only metadata is kept,
    never rows. The bound caps how many superseded stamps a long
    session holds."""
    return {}


def layout_row_groups(layout: TableLayout) -> int:
    """Total parquet row groups over ``layout``'s files, read from the
    footers alone (a split never cuts inside a row group)."""
    memo = _footer_memo(layout, None)
    if "row_groups" not in memo:
        import pyarrow.parquet as pq

        memo["row_groups"] = sum(
            pq.ParquetFile(f).metadata.num_row_groups for f in layout.files
        )
    return memo["row_groups"]


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """``read.parquet`` given the schema Spark inferred for the table's
    layout stamp in this application. Inference re-reads every footer
    on each plain ``read.parquet()`` (about 115 ms a table at sf0.1);
    a read given the memoized schema skips it and builds the identical
    DataFrame. Keyed by the Spark application too: a read conf such as
    ``nanosAsLong`` changes the inferred types, and a new application
    may read with other confs. A table that cannot be listed locally
    gets a plain inferring read."""
    layout = table_layout(path)
    if layout is None:
        return spark.read.parquet(path)
    memo = _footer_memo(layout, spark.sparkContext.applicationId)
    if "schema" in memo:
        return spark.read.schema(memo["schema"]).parquet(path)
    df = spark.read.parquet(path)
    memo["schema"] = df.schema
    return df


def sink_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    return df.write.mode(mode).parquet(path)


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
):
    """S1 — full-table JDBC SELECT (ref :55-63,96-100: ``SELECT *
    FROM users/songs`` via PostgresHook → pandas).

    Returns a configured DataFrameReader; ``.load()`` executes when a
    JDBC driver is on the classpath. Partitioned reads (column +
    bounds) replace the reference's single-connection full scan — N
    parallel range queries, the only way a 1000-executor cluster can
    pull a big table without serializing through one socket."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader


def jdbc_query_reader(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
):
    """S1-pushdown — run an arbitrary SQL ``query`` INSIDE the source
    database (the JDBC ``query`` option wraps it as a subquery). This
    is how the reference ships its validation aggregates to Postgres
    (``dags/music_streaming_etl_dags.py:65-80``) so only the 1-row
    report crosses the wire — at 100 TB source scale the difference
    between a COUNT shipped to the DB and a full-table extract."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("query", query)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batch_size: int = 50_000,
    column_types: str | None = None,
    varchar_widths: dict[str, int] | None = None,
    truncate_columns: bool = False,
    max_errors: int = 0,
):
    """S6/S8 — JDBC sink. ``batchsize`` mirrors the reference's
    bulk-load chunking (CHUNK_SIZE = 50_000,
    ``sql/load_data_into_rds.ipynb`` cell-4); Spark parallelizes the
    chunks across partitions instead of looping in one process.
    ``column_types`` is the DDL override (``createTableColumnTypes``,
    e.g. ``"name VARCHAR(255)"``) — the reference pins VARCHAR widths
    in its Redshift DDL the same way, and some dialects (Derby) need
    it because their default string mapping (CLOB) can't be compared
    or indexed.

    Redshift COPY option parity (ref ``dags/music_streaming_etl_dags
    .py:83-92``):

    - ``varchar_widths`` — declarative ``{column: width}`` form of the
      DDL widths; generates ``createTableColumnTypes`` (merged with any
      explicit ``column_types``).
    - ``truncate_columns=True`` ≙ COPY ``TRUNCATECOLUMNS``: substring
      every ``varchar_widths`` column to its declared width before the
      write, so over-width rows load truncated instead of erroring.
    - ``max_errors=0`` ≙ COPY ``MAXERROR 0`` (the reference's setting
      and the only supported value): the write aborts on the first bad
      row — Spark's JDBC writer fails the task (and the job) on the
      first constraint/width violation, which is exactly fail-fast.
      Tolerating N>0 bad rows has no sound distributed mapping (each
      executor would need a shared error budget); pre-split invalid
      rows with ``operators/validation.py::quarantine_split`` instead
      — a ValueError here says so rather than silently dropping rows.

    Executed round-trip against embedded Derby in tests/test_jdbc.py;
    swap url+driver for Postgres/Redshift."""
    if max_errors != 0:
        raise ValueError(
            "max_errors>0 has no sound distributed mapping — "
            "quarantine_split invalid rows before the write instead"
        )
    if truncate_columns and not varchar_widths:
        raise ValueError("truncate_columns requires varchar_widths")
    if varchar_widths:
        from pyspark.sql import functions as F

        if truncate_columns:
            for c, width in varchar_widths.items():
                df = df.withColumn(c, F.substring(F.col(c), 1, width))
        widths_ddl = ", ".join(
            f"{c} VARCHAR({w})" for c, w in varchar_widths.items()
        )
        column_types = (
            f"{column_types}, {widths_ddl}" if column_types else widths_ddl
        )
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    if column_types:
        w = w.option("createTableColumnTypes", column_types)
    for k, v in (properties or {}).items():
        w = w.option(k, v)
    return w


def scan_binary_files(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
) -> DataFrame:
    """Whole-file binary ingest (``binaryFile`` source) — the entry
    point of every multimodal pipeline: images/audio/video land as
    opaque files, and this scan turns a directory tree into
    (path, modificationTime, length, content) rows that the
    ``operators/multimodal.py`` decode stages consume. Listing and
    reading are distributed (files are split across tasks, one file
    per row — binary files are never split mid-file), so a 100 TB
    media drop ingests in parallel; ``path_glob`` prunes at listing
    time, before any bytes are read."""
    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.load(path)


def scan_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML scan (built into Spark 4) — the remaining drop-zone text
    format after CSV/JSON/ORC. Schema is declared, never inferred, by
    the same rule as ``scan_csv_multi`` (the reference re-infers at
    every hop; a declared schema is the only stable contract)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def sink_xml(
    df: DataFrame,
    path: str,
    row_tag: str,
    root_tag: str,
    mode: str = "overwrite",
) -> None:
    """XML sink — one file per partition like the CSV sink's default
    (parallel writers; no driver coalesce)."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )


def ddl_recreate(
    spark: SparkSession, df: DataFrame, table: str, partition_by: Sequence[str] = ()
) -> None:
    """S7 — the reference's full-refresh load strategy (DROP + CREATE +
    COPY, ref :245-289) as an atomic ``overwrite`` saveAsTable."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(table)


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_cols: Sequence[str] = (),
    target_file_bytes: int = 128 * 1024 * 1024,
    bits: int = 8,
) -> int:
    """One-call table maintenance — the ``OPTIMIZE [ZORDER BY]`` verb
    lake users expect: rewrite a parquet dir into ⌈total/target⌉
    right-sized files, optionally laying rows along a Morton curve
    over ``zorder_cols`` so footer min/max stats prune every listed
    column (see ``operators/layout.py``). Same atomic-enough sibling
    swap as the upsert writer; returns the new file count.

    At scale this is the nightly job that keeps streaming/upsert
    output scannable: without it, micro-batch files accumulate and
    multi-column predicates stop skipping."""
    import math
    import shutil

    layout = table_layout(path)
    total = layout.total_bytes if layout else 0
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if zorder_cols:
        from ..operators.layout import zorder_layout

        df = zorder_layout(df, zorder_cols, n_files, bits=bits).drop("zval")
    else:
        df = df.repartition(n_files)
    tmp = path.rstrip("/") + "__optimize_swap"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return len(table_layout(path).files)


def scan_csv_permissive(
    spark: SparkSession,
    paths: Sequence[str] | str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Malformed-input-tolerant CSV ingestion: PERMISSIVE parse mode
    with the raw line of every unparseable row captured in
    ``corrupt_col``, split into (clean, quarantine) frames — the
    ingestion-hardening the reference lacks entirely (pandas
    ``read_csv`` aborts the whole hourly run on one bad line,
    ref ``dags/music_streaming_etl_dags.py:118``).

    The returned frames share one scan each (the corrupt column is
    only materialized for rows that fail the parse); quarantined rows
    keep the ORIGINAL line so they can be repaired and replayed.
    Spark requires the corrupt column declared in the schema —
    handled here, callers pass only the data schema."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    if isinstance(paths, str):
        paths = [paths]
    df = (
        spark.read.option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
        .csv(list(paths))
        # Spark's lazy corrupt-column rule: the frame must be
        # materialized-stable before filtering on the corrupt col —
        # cache() is the documented pattern, and unlike a lineage-cut
        # checkpoint an evicted cached block recomputes
        .cache()
    )
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return clean, quarantine
