"""Driver-testdata query surface: every SURVEY.md §2 op, parameterized
over /root/testdata/sf*/ tables, each with a DuckDB oracle twin.

Mapping (FIXTURES.md §3): lineitem ≈ streams (fact), orders/part ≈
songs (dims), customer ≈ users, events.ts → hour derivation,
documents/embeddings for the LLM-pipeline extension ops.

Determinism rules used throughout (so the order-insensitive value hash
matches DuckDB exactly):

- **Float sums/avgs go through DECIMAL(18,2).** Summing doubles is
  order-dependent (shuffle order differs run to run and engine to
  engine). Casting each addend to decimal first makes the sum exact
  integer arithmetic — bit-identical in any engine, any partitioning —
  then the final cast back to double is deterministic. This is also the
  right call at 100 TB: decimal sums don't accumulate fp error.
- **Ratios divide two exact integers** (distinct / count) — identical
  doubles everywhere.
- **Every top-k / mode has a total order** (count DESC, value ASC) —
  never ``F.first``/``F.mode`` nondeterminism.
- **Ints that DuckDB widens (hour(), count()) are cast to BIGINT on
  both sides.**

Each Spark query is the idiomatic Catalyst plan: broadcast dim joins,
filter/projection pushdown to the parquet scan, partial+final hash agg.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.aggregates import (
    agg_count_distinct,
    agg_diversity_ratio,
    agg_mode,
    agg_with_mode_fused,
    drop_null_group_keys,
    topk_by_freq_ranked,
)
from ..operators.fanout import fan_out_scan
from ..operators.joins import anti_join_orphans, left_join_equi
from ..operators.ranking import global_topk
from ..sources.io import read_parquet_table

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive: the caller may hand us a session it built itself (the
    # driver does). to_date()/hour() on TIMESTAMP_LTZ are evaluated in
    # the session timezone — pin UTC so results match the naive
    # timestamps the DuckDB oracle computes on.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _events(spark, sf_dir)
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


def _tf(
    spark: SparkSession, sf_dir: str, name: str, *cols: str
) -> DataFrame:
    """``_t`` plus scale-adaptive scan fan-out (round-9 optimization,
    guide §2.5): when the table's file layout cannot feed the session's
    cores (the driver testdata is ONE row group per table, so every
    scan is a single task), hash-repartition on ``cols`` right after
    the read so joins/aggregations/window sorts downstream of the scan
    parallelize; a no-op whenever the layout already provides enough
    splits (the 100 TB case). See ``operators/fanout.py`` for the full
    rationale and measurements. Pick ``cols`` = the table's high-
    cardinality key, ideally the first downstream shuffle key so the
    fan-out exchange is REUSED instead of added (guide §2.4)."""
    return fan_out_scan(
        _t(spark, sf_dir, name), spark, f"{sf_dir}/{name}.parquet", *cols
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` physical type varies by generator
    vintage: TIMESTAMP(NANOS) (which Spark's vectorized reader
    rejects — read the physical int64 via ``nanosAsLong`` and rebuild
    microseconds JVM-side) or TIMESTAMP(MICROS) with
    isAdjustedToUTC=false (reads as TIMESTAMP_NTZ — cast to session
    TIMESTAMP under the pinned UTC zone, same instants). Both paths
    stay fully distributed — no driver materialization — so they
    scale like any parquet scan."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # schema-memoized like every _t table; inferred only after the
    # conf above is set, so the memo holds the nanosAsLong read path's
    raw = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    ts_type = raw.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # TIMESTAMP(NANOS) read as raw int64 nanos
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def dec_sum(col, alias: str, scale: int = 2):
    """Deterministic double sum: exact decimal accumulation, double out.

    ``scale`` must cover the value's true decimal precision (e.g. 4 for
    price×(1−disc), 6 for ×(1+tax)) — rounding at the exact scale is
    unambiguous, while rounding *below* it hits half-way ties where
    engines disagree (HALF_UP vs round-half-even)."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double").alias(alias)


def dec_avg(col, alias: str, scale: int = 2):
    """Deterministic double avg: exact decimal sum ÷ bigint count."""
    return (
        F.sum(col.cast(f"decimal(28,{scale})")).cast("double")
        / F.count(col).cast("double")
    ).alias(alias)


# --------------------------------------------------------------------------
# Flagship: genre_kpis on the testdata mapping
# (S3, J1, J2, P2, A1, A2, A3 + §2.4 null-group-drop in one plan)
# --------------------------------------------------------------------------


def q_genre_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_kpis genre branch (ref dags/music_streaming_etl_dags.py:
    172-195) on testdata: lineitem ⟕ orders ⟕ customer; genre :=
    o_orderpriority, date := date(l_shipdate), mode over c_mktsegment."""
    # fan-out on the join key (r9, guide §2.5): the single-row-group
    # scan otherwise runs the two joins + the wide partial aggregation
    # on one core; a no-op when the layout already splits.
    lineitem = _tf(spark, sf_dir, "lineitem", "l_orderkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    merged = left_join_equi(
        left_join_equi(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            orders,
            "o_orderkey",
        ).withColumnRenamed("o_custkey", "c_custkey"),
        customer,
        "c_custkey",
    )
    base = drop_null_group_keys(
        merged.withColumn("stat_date", F.to_date("l_shipdate")).withColumnRenamed(
            "o_orderpriority", "genre"
        ),
        ["genre"],
    )
    # Fused single-shuffle plan: partial count/sum per (genre, date,
    # segment), then a tiny re-combine that also extracts the mode —
    # one pass over the fact instead of the pandas-shaped two.
    fused = agg_with_mode_fused(
        base,
        ["genre", "stat_date"],
        "c_mktsegment",
        partials=[
            F.count("l_partkey").alias("__cnt_pk"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("__sum_px"),
            F.count("l_extendedprice").alias("__cnt_px"),
        ],
        finals=[
            F.sum("__cnt_pk").alias("listen_count"),
            (
                F.sum("__sum_px").cast("double")
                / F.sum("__cnt_px").cast("double")
            ).alias("avg_track_duration"),
        ],
        mode_alias="most_popular_track",
    )
    return fused.select(
        "genre", "stat_date", "listen_count", "avg_track_duration", "most_popular_track"
    )


ORACLE_GENRE_KPIS = """
WITH merged AS (
  SELECT o.o_orderpriority AS genre,
         CAST(l.l_shipdate AS DATE) AS stat_date,
         l.l_partkey, l.l_extendedprice, c.c_mktsegment
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
), base AS (
  SELECT * FROM merged WHERE genre IS NOT NULL
), agg AS (
  SELECT genre, stat_date,
         COUNT(l_partkey) AS listen_count,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_track_duration
  FROM base GROUP BY genre, stat_date
), cnts AS (
  SELECT genre, stat_date, c_mktsegment, COUNT(*) AS cnt
  FROM base WHERE c_mktsegment IS NOT NULL
  GROUP BY genre, stat_date, c_mktsegment
), md AS (
  SELECT genre, stat_date, c_mktsegment AS most_popular_track,
         ROW_NUMBER() OVER (PARTITION BY genre, stat_date
                            ORDER BY cnt DESC, c_mktsegment ASC) AS rn
  FROM cnts
)
SELECT a.genre, a.stat_date, a.listen_count, a.avg_track_duration,
       m.most_popular_track
FROM agg a
LEFT JOIN (SELECT * FROM md WHERE rn = 1) m
  ON a.genre = m.genre AND a.stat_date = m.stat_date
"""


# --------------------------------------------------------------------------
# hourly_kpis scalar branch (P3, A4, A6) + exploded top-k (A5) on events
# --------------------------------------------------------------------------


def q_hourly_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_kpis hourly branch minus the array column (ref :199-207):
    hour-of-day grain, exact distinct users, diversity ratio."""
    # fan-out REJECTED by measurement (r9): events is small enough that
    # shuffling it (0.68 s) loses to the one-task Expand+partial agg
    # (0.39 s) — the per-row work here is too light to amortize an
    # extra exchange (A/B in OPTIMIZATION_r09.md). Re-probed r10 with a
    # NARROW payload (select ts/user_id/event_id before the
    # repartition, VERDICT r9 item 4): still loses, 0.58 s none vs
    # 0.72 s narrow vs 0.74 s wide — the cost is the extra stage
    # itself at this volume, not the exchanged bytes (column pruning
    # already reached the wide fan-out's exchange).
    events = _t(spark, sf_dir, "events")
    base = events.withColumn("hour", F.hour("ts").cast("bigint"))
    # fused: both distincts + the count in ONE aggregation (single scan,
    # one Expand + two-phase agg) instead of two chains + a join
    return base.groupBy("hour").agg(
        F.countDistinct("user_id").alias("unique_listeners"),
        (
            F.countDistinct("event_id").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("track_diversity_index"),
    )


ORACLE_HOURLY_KPIS = """
SELECT CAST(hour(ts) AS BIGINT) AS hour,
       COUNT(DISTINCT user_id) AS unique_listeners,
       CAST(COUNT(DISTINCT event_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS track_diversity_index
FROM events GROUP BY 1
"""


def q_agg_topk_by_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 exploded: top-5 event_type by frequency per hour with rank;
    tie-break count DESC, value ASC (the engine-defined total order)."""
    # fan-out REJECTED by measurement (r9): 0.68 s with vs 0.31 s
    # without — the (hour, event_type) partial counts are cheaper than
    # the exchange they would ride (A/B in OPTIMIZATION_r09.md).
    # Re-probed r10 with a NARROW payload (select ts/event_type before
    # the repartition, VERDICT r9 item 4): 0.39 s none vs 0.78 s
    # narrow — rejection stands; the extra stage dominates at this
    # volume regardless of payload width.
    events = _t(spark, sf_dir, "events")
    base = events.withColumn("hour", F.hour("ts").cast("bigint"))
    ranked = topk_by_freq_ranked(base, ["hour"], "event_type", 5)
    return ranked.select("hour", F.col("rank").cast("bigint").alias("rank"), "event_type")


ORACLE_TOPK = """
WITH cnts AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hour, event_type, COUNT(*) AS cnt
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
)
SELECT hour,
       CAST(ROW_NUMBER() OVER (PARTITION BY hour ORDER BY cnt DESC, event_type ASC) AS BIGINT) AS rank,
       event_type
FROM cnts QUALIFY rank <= 5
"""


# --------------------------------------------------------------------------
# Projections / derivations / casts (P1–P6)
# --------------------------------------------------------------------------


def q_project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — column-subset select (ref :157); Catalyst prunes the scan
    to exactly these columns (check ReadSchema in explain)."""
    return _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


def q_derive_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — timestamp → date (ref :182)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.to_date("l_shipdate").alias("ship_date"),
    )


def q_derive_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — timestamp → hour-of-day (ref :199)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", F.hour("ts").cast("bigint").alias("hour"))


def q_parse_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — string → timestamp (ref :118,176): format ts to a string,
    parse it back; result must equal the original to the microsecond."""
    ev = _t(spark, sf_dir, "events")
    s = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    return ev.select(
        "event_id",
        F.to_timestamp(s, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("parsed_ts"),
    )


def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — cast-as-assertion (ref :300-311): Int64-style bigint and
    float64 casts before the sink."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("linenumber_big"),
        F.col("l_quantity").cast("double").alias("quantity_dbl"),
        F.col("l_tax").cast("double").alias("tax_dbl"),
    )


def q_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — withColumnRenamed (``key`` → ``song_key``,
    sql/load_data_into_rds.ipynb cell-8)."""
    part = _t(spark, sf_dir, "part")
    return part.withColumnRenamed("p_type", "part_type").select(
        "p_partkey", "part_type", "p_brand"
    )


# --------------------------------------------------------------------------
# Joins (J1/J2, V6)
# --------------------------------------------------------------------------


def q_left_join_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2 — two-hop left equi-join, unmatched rows keep NULLs.
    Dims broadcast: the fact side never shuffles."""
    # fan-out (r9, guide §2.5): both joins broadcast, so the probe side
    # otherwise evaluates entirely inside the one-task scan stage.
    li = _tf(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    out = left_join_equi(
        left_join_equi(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), orders, "o_orderkey"
        ).withColumnRenamed("o_custkey", "c_custkey"),
        cust,
        "c_custkey",
    )
    return out.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        "l_extendedprice",
        "o_orderpriority",
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
    )


ORACLE_LEFT_JOIN = """
SELECT l.l_orderkey,
       CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
       l.l_extendedprice,
       o.o_orderpriority, c.c_mktsegment,
       CAST(c.c_nationkey AS BIGINT) AS c_nationkey
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 — referential-integrity orphan finder as a left-anti join:
    orders whose customer is NOT in the BUILDING segment (a filtered
    dim guarantees a non-trivial orphan set on clean testdata)."""
    orders = _t(spark, sf_dir, "orders")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return anti_join_orphans(orders, cust, "o_custkey").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )


ORACLE_ANTI_JOIN = """
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
)
"""


def q_semi_join_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-companion of the orphan finder: orders whose customer IS
    in the BUILDING segment, without materializing dim columns."""
    from ..operators.joins import semi_join_matched

    orders = _t(spark, sf_dir, "orders")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return semi_join_matched(orders, cust, "o_custkey").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )


ORACLE_SEMI_JOIN = """
SELECT o_orderkey, o_custkey, o_orderpriority
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
)
"""


# --------------------------------------------------------------------------
# Standalone aggregation ops (A1–A6)
# --------------------------------------------------------------------------


def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — non-null count per group (ref :185-188)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.count("l_partkey").alias("listen_count"))


def q_agg_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — null-skipping mean per group (ref :189), decimal-exact."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_avg(F.col("l_extendedprice"), "avg_price")
    )


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — deterministic per-group mode (ref :190-193)."""
    orders = _t(spark, sf_dir, "orders")
    return agg_mode(orders, ["o_orderstatus"], "o_orderpriority", "modal_priority")


ORACLE_AGG_MODE = """
WITH cnts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
  FROM orders WHERE o_orderpriority IS NOT NULL
  GROUP BY 1, 2
)
SELECT o_orderstatus, o_orderpriority AS modal_priority
FROM cnts
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                           ORDER BY cnt DESC, o_orderpriority ASC) = 1
"""


def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — exact distinct per group (ref :200-203)."""
    ev = _t(spark, sf_dir, "events")
    return agg_count_distinct(ev, ["event_type"], "user_id", "unique_users")


def q_agg_diversity_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — distinct÷total ratio per group (ref :205)."""
    ev = _t(spark, sf_dir, "events")
    return agg_diversity_ratio(ev, ["event_type"], "user_id", "user_diversity")


# --------------------------------------------------------------------------
# Validation ops (V1–V3) — each returns a 1-row report frame
# --------------------------------------------------------------------------


def q_check_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 — row count > 0 (ref :130-148,152-154)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
    )


def q_check_no_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 — one-pass per-column null counts (the reference ships
    COUNT(CASE WHEN col IS NULL …) to Postgres, ref :65-80; same
    aggregation here on the DataFrame)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"]
    return li.agg(
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}")
            for c in cols
        ]
    )


def q_check_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 — cast-as-assertion report: non-null values that fail a
    try_cast are type violations (pandas astype raises, ref :300-311).
    props is JSON (never castable to bigint) → all rows violate;
    event_type castable count is 0 violations... both counted.

    The bigint check goes through ``uncastable``'s regex fast-fail
    gate: a failed string→integral try_cast is a caught Java
    exception per row, and props fails on EVERY row — the gate took
    the 100× probe point from 73.9s to sub-second with bit-identical
    counts (the regex is a verified superset of the castable
    grammar; overflow strings still reach the real try_cast)."""
    from ..operators.validation import uncastable

    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(
            F.when(uncastable(F.col("props"), "bigint"), 1)
        ).alias("uncastable_props"),
        F.count(
            F.when(
                F.col("value").isNotNull()
                & F.col("value").try_cast("string").isNull(),
                1,
            )
        ).alias("uncastable_value"),
    )


ORACLE_CHECK_TYPES = """
SELECT COUNT(CASE WHEN props IS NOT NULL AND TRY_CAST(props AS BIGINT) IS NULL THEN 1 END) AS uncastable_props,
       COUNT(CASE WHEN value IS NOT NULL AND TRY_CAST(value AS VARCHAR) IS NULL THEN 1 END) AS uncastable_value
FROM events
"""


FRESHNESS_AS_OF = "2024-01-31 12:00:00"
FRESHNESS_HORIZON_H = 48


def q_check_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7 — data freshness (claimed README.md:36, unimplemented in the
    reference): newest event within 48h of a pinned as-of instant
    (pinned, not ``now()``, so the result is reproducible and
    oracle-checkable). One max-aggregate pass; ``fresh`` COALESCEs to
    FALSE so an EMPTY table fails closed in both engines.

    lag_seconds uses whole-second arithmetic (``unix_timestamp``
    floors sub-second parts; the oracle mirrors with
    ``floor(epoch(...))``) — double epoch micro-lag would hash-diverge
    on microsecond representation."""
    ev = _t(spark, sf_dir, "events")
    as_of = F.lit(FRESHNESS_AS_OF).cast("timestamp")
    max_ts = F.max("ts")
    lag_s = F.unix_timestamp(as_of) - F.unix_timestamp(max_ts)
    return ev.agg(
        F.count(F.lit(1)).alias("total_rows"),
        max_ts.alias("max_ts"),
        lag_s.alias("lag_seconds"),
        F.coalesce(
            lag_s <= FRESHNESS_HORIZON_H * 3600, F.lit(False)
        ).alias("fresh"),
    )


ORACLE_CHECK_FRESHNESS = f"""
SELECT COUNT(*) AS total_rows,
       MAX(ts) AS max_ts,
       CAST(floor(epoch(TIMESTAMP '{FRESHNESS_AS_OF}')) AS BIGINT)
         - CAST(floor(epoch(MAX(ts))) AS BIGINT) AS lag_seconds,
       COALESCE(CAST(floor(epoch(TIMESTAMP '{FRESHNESS_AS_OF}')) AS BIGINT)
         - CAST(floor(epoch(MAX(ts))) AS BIGINT) <= {FRESHNESS_HORIZON_H} * 3600,
         FALSE) AS fresh
FROM events
"""


def q_ddl_recreate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — full-refresh load strategy (DROP+CREATE+COPY, ref
    :245-289) as an overwrite saveAsTable, read back from the
    catalog. The explicit DROP + leftover-location cleanup mirrors the
    reference's ``DROP TABLE IF EXISTS`` and survives a fresh session
    whose in-memory catalog forgot the table but whose warehouse dir
    still holds the files."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS kpi_full_refresh")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), "kpi_full_refresh")
    shutil.rmtree(loc, ignore_errors=True)
    agg = q_agg_count(spark, sf_dir)
    agg.write.mode("overwrite").saveAsTable("kpi_full_refresh")
    return spark.table("kpi_full_refresh")


def q_check_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 — domain check: derived hour within [0,23] (ref :231-232)."""
    ev = _t(spark, sf_dir, "events")
    h = F.hour("ts")
    return ev.agg(
        F.count(F.when(~h.between(0, 23), 1)).alias("out_of_range"),
        F.count(F.when(h.between(0, 23), 1)).alias("in_range"),
    )


# --------------------------------------------------------------------------
# Scan / sink ops (S2, S4) — CSV round-trips through .scratch
# --------------------------------------------------------------------------

CSV_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _events_csv_dirs(spark: SparkSession, sf_dir: str) -> list[str]:
    """Materialize events as 3 CSV splits (mimicking the reference's 3
    streams*.csv S3 objects) — idempotent, keyed by sf dir."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(SCRATCH, f"events_csv_{tag}")
    dirs = [os.path.join(root, f"split{i}") for i in range(3)]
    if not all(os.path.exists(os.path.join(d, "_SUCCESS")) for d in dirs):
        ev = _t(spark, sf_dir, "events")
        for i, d in enumerate(dirs):
            (
                ev.filter(F.col("event_id") % 3 == i)
                .coalesce(1)
                .write.mode("overwrite")
                .option("header", True)
                .option("timestampFormat", CSV_TS_FMT)
                .csv(d)
            )
    return dirs


EVENTS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def q_scan_csv_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — multi-path CSV scan with explicit schema + timestamp parse
    (ref :105-121: N S3 objects → one table; the multi-path read
    subsumes the reference's concat/union loop)."""
    dirs = _events_csv_dirs(spark, sf_dir)
    return (
        spark.read.option("header", True)
        .option("timestampFormat", CSV_TS_FMT)
        .schema(EVENTS_CSV_SCHEMA)
        .csv(dirs)
    )


# CAST(ts AS TIMESTAMP) truncates DuckDB's TIMESTAMP_NS view of the
# nanos column to microseconds — the precision Spark computes in.
ORACLE_EVENTS_ALL = (
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,"
    " value, props FROM events"
)


def q_scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-analog for JSON-lines sources: events written as NDJSON
    (the other ubiquitous drop-zone format) and re-read with a
    declared schema — no inference, same contract as the CSV scan."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(SCRATCH, f"events_json_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = _t(spark, sf_dir, "events").withColumn(
            "ts", F.date_format("ts", CSV_TS_FMT)
        )
        ev.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", T.StringType(), False),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.select(
        "event_id",
        F.to_timestamp("ts", CSV_TS_FMT).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — headered CSV sink (ref :101-102,210-211) then re-scan
    (S3-op, ref :152): the round-tripped aggregate must equal the
    original. Written partitioned (not coalesced) — the scale path."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(SCRATCH, f"sink_csv_{tag}")
    df = q_agg_avg(spark, sf_dir)
    df.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType(), True),
            T.StructField("l_linestatus", T.StringType(), True),
            T.StructField("avg_price", T.DoubleType(), True),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(out)


ORACLE_AGG_AVG = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price
FROM lineitem GROUP BY 1, 2
"""


def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-analog for ORC — Spark's other built-in columnar format
    (predicate pushdown + column pruning work the same as parquet):
    events written as ORC, re-read, same projection contract as the
    CSV/JSON scans. Timestamps ride as formatted strings (ORC
    timestamp round-trips are timezone-annotated; the string form is
    the cross-engine-stable choice at a drop-zone boundary, identical
    to the CSV path)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(SCRATCH, f"events_orc_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = _t(spark, sf_dir, "events").withColumn(
            "ts", F.date_format("ts", CSV_TS_FMT)
        )
        ev.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.select(
        "event_id",
        F.to_timestamp("ts", CSV_TS_FMT).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def q_scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-analog for XML (built into Spark 4) — the last drop-zone
    text format after CSV/JSON/ORC: events sunk as XML, re-read with a
    declared schema, same projection contract as the other scans.
    Timestamps ride as formatted strings like the CSV/ORC paths (XML
    is a text boundary; the string form is the cross-engine-stable
    choice)."""
    from ..sources.io import scan_xml, sink_xml

    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(SCRATCH, f"events_xml_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = _t(spark, sf_dir, "events").withColumn(
            "ts", F.date_format("ts", CSV_TS_FMT)
        )
        sink_xml(ev, out, row_tag="event", root_tag="events")
    xml_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.StringType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )
    back = scan_xml(spark, out, row_tag="event", schema=xml_schema)
    return back.select(
        "event_id",
        F.to_timestamp("ts", CSV_TS_FMT).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# Inputs of scan_binary_ingest and ref_pipeline_genre_kpis: a small
# SYNTHETIC sample committed under plans/fixtures/, written by
# scripts/make_reference_sample.py. It keeps the reference's CSV layout
# (the three stream objects its DAG downloads from S3, ref
# dags/music_streaming_etl_dags.py:105-121, header
# user_id,track_id,listen_time; users.csv with the five USERS columns),
# but no real values. The reference snapshot ships no songs.csv
# (.MISSING_LARGE_BLOBS), so songs is still derived from track_id.
# Resolved from this file, so the registry reads only the repo and
# sf_dir, and the oracles stay static SQL strings.
REF_SAMPLE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "reference_sample"
)
BINARY_FIXTURE_DIR = os.path.join(REF_SAMPLE_DIR, "streams")


def q_scan_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-analog for opaque binary objects (``binaryFile`` source) —
    the multimodal ingest entry point: each of the sample's three
    stream CSV objects becomes one row of (file_name, n_bytes,
    content_md5), listing and reads distributed across tasks. The md5
    rides on the HEX of the bytes because the oracle's md5 only takes
    strings — both engines hex uppercase, so the digests agree."""
    from ..sources.io import scan_binary_files

    bins = scan_binary_files(spark, BINARY_FIXTURE_DIR, path_glob="*.csv")
    return bins.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.hex(F.col("content"))).alias("content_md5"),
    )


ORACLE_BINARY_INGEST = f"""
SELECT parse_filename(filename) AS file_name,
       CAST(size AS BIGINT) AS n_bytes,
       md5(hex(content)) AS content_md5
FROM read_blob('{BINARY_FIXTURE_DIR}/*.csv')
"""


def ref_pipeline_genre_kpis(spark: SparkSession, data_dir: str) -> DataFrame:
    """The reference's full compute_kpis genre branch (extract →
    enrich joins → aggregate ⋈ window mode) over a data dir in the
    reference's layout: ``streams/streams{1,2,3}.csv`` read as one
    multi-path scan plus ``users/users.csv``. The songs dim derives deterministically
    from each track_id (the duration from two of its characters, so
    tracks of one genre differ) — the same synthesis as
    :func:`ref_pipeline_oracle_sql`, so the comparison pins every join,
    the null-group drop, the decimal-exact average, and the mode
    tie-break."""
    from ..schemas import USERS
    from ..sources.io import scan_csv_multi
    from .kpis import compute_kpis
    from .pipeline import extract_streams

    users = scan_csv_multi(spark, f"{data_dir}/users/users.csv", USERS)
    streams = extract_streams(
        spark,
        [f"{data_dir}/streams/streams{i}.csv" for i in (1, 2, 3)],
    )
    songs = (
        streams.select("track_id")
        .distinct()
        .select(
            "track_id",
            F.concat(F.lit("artist_"), F.substring("track_id", 1, 2)).alias(
                "artists"
            ),
            F.concat(F.lit("track_"), F.substring("track_id", 1, 4)).alias(
                "track_name"
            ),
            F.concat(F.lit("genre_"), F.substring("track_id", 1, 1)).alias(
                "track_genre"
            ),
            (
                F.ascii(F.substring("track_id", 1, 1)) * 3000
                + F.ascii(F.substring("track_id", 5, 1))
            ).alias("duration_ms"),
        )
    )
    res = compute_kpis(streams, songs, users, cache=False)
    return res.genre_kpis


def q_ref_pipeline_genre_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ref_pipeline_genre_kpis` on the committed sample
    (``REF_SAMPLE_DIR``), independent of sf_dir. The sample is shaped
    for the branch's edges: stream user ids with no users row (the
    LEFT JOIN), 8 (genre, date) groups, modal-count ties, three files.
    The same check on the reference's real data runs in
    tests/test_reference_data_compat.py wherever that data exists."""
    return ref_pipeline_genre_kpis(spark, REF_SAMPLE_DIR)


def ref_pipeline_oracle_sql(data_dir: str) -> str:
    """DuckDB twin of :func:`ref_pipeline_genre_kpis` over ``data_dir``."""
    return f"""
WITH streams AS (
  SELECT user_id, track_id, listen_time
  FROM read_csv('{data_dir}/streams/streams*.csv', header=true,
                columns={{'user_id': 'BIGINT', 'track_id': 'VARCHAR',
                          'listen_time': 'TIMESTAMP'}})
),
users AS (
  SELECT user_id FROM read_csv('{data_dir}/users/users.csv', header=true)
),
songs AS (
  SELECT track_id,
         'track_' || substr(track_id, 1, 4) AS track_name,
         'genre_' || substr(track_id, 1, 1) AS track_genre,
         ascii(substr(track_id, 1, 1)) * 3000
           + ascii(substr(track_id, 5, 1)) AS duration_ms
  FROM (SELECT DISTINCT track_id FROM streams)
),
merged AS (
  SELECT s.track_id, s.listen_time, g.track_name, g.track_genre,
         g.duration_ms
  FROM streams s
  LEFT JOIN songs g USING (track_id)
  LEFT JOIN users u USING (user_id)
),
base AS (
  SELECT *, CAST(listen_time AS DATE) AS date FROM merged
  WHERE track_genre IS NOT NULL
),
agg AS (
  SELECT track_genre, date, COUNT(track_id) AS listen_count,
         CAST(SUM(duration_ms) AS DOUBLE)
           / CAST(COUNT(duration_ms) AS DOUBLE) AS avg_track_duration
  FROM base GROUP BY 1, 2
),
cnts AS (
  SELECT track_genre, date, track_name, COUNT(*) AS cnt
  FROM base WHERE track_name IS NOT NULL GROUP BY 1, 2, 3
),
md AS (
  SELECT track_genre, date, track_name AS most_popular_track,
         ROW_NUMBER() OVER (PARTITION BY track_genre, date
                            ORDER BY cnt DESC, track_name ASC) AS rn
  FROM cnts
)
SELECT a.track_genre, a.date, a.listen_count, a.avg_track_duration,
       m.most_popular_track
FROM agg a
LEFT JOIN (SELECT * FROM md WHERE rn = 1) m USING (track_genre, date)
"""


ORACLE_REF_PIPELINE = ref_pipeline_oracle_sql(REF_SAMPLE_DIR)


def q_scan_parquet_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3-analog — parquet scan with predicate + projection pushdown
    (explain shows PushedFilters + pruned ReadSchema)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_discount"
    )


# --------------------------------------------------------------------------
# Headline analytics (bench queries; TPC-H-shaped)
# --------------------------------------------------------------------------


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the engine's heaviest pure-agg
    benchline. Decimal-exact sums; partial agg map-side; single shuffle
    on a 6-value key."""
    # fan-out (r9, guide §2.5): measured 1.20 s → 0.53 s at
    # sf0.1/local[32] — the decimal partial aggregation is ~4x the
    # scan cost and otherwise runs single-threaded (one row group =
    # one task). The date filter still pushes below the exchange into
    # the scan (plans/r09/tpch_q1_pricing_after.txt).
    li = _tf(spark, sf_dir, "lineitem", "l_orderkey")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity"), "sum_qty"),
            dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            dec_sum(disc, "sum_disc_price", scale=4),
            dec_sum(charge, "sum_charge", scale=6),
            dec_avg(F.col("l_quantity"), "avg_qty"),
            dec_avg(F.col("l_extendedprice"), "avg_price"),
            dec_avg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY 1, 2
"""


def q_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-10 (revenue DESC, custkey ASC) —
    the classic fact→dim rollup with a bounded final sort."""
    # fan-out on the join key (r9, guide §2.5/§2.4): when the orders
    # join shuffles, the fan-out exchange IS its lineitem-side
    # exchange — reused, not added.
    li = _tf(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # orders/customer are fact-scaled — shuffle-join on the keys and let
    # AQE pick the strategy; forcing a broadcast here OOMs at 100 TB.
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "inner"
    ).join(cust, orders.o_custkey == cust.c_custkey, "inner")
    agg = joined.groupBy("c_custkey", "c_name").agg(dec_sum(rev, "revenue", scale=4))
    return global_topk(agg, [F.desc("revenue"), F.asc("c_custkey")], 10).select(
        "rank", "c_custkey", "c_name", "revenue"
    )


ORACLE_TOP_REVENUE = """
WITH agg AS (
  SELECT c.c_custkey, c.c_name,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey ASC) AS BIGINT) AS rank,
       c_custkey, c_name, revenue
FROM agg
QUALIFY rank <= 10
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql | None for rows-only check)
REGISTRY: dict = {
    "genre_kpis": (q_genre_kpis, ORACLE_GENRE_KPIS),
    "hourly_kpis": (q_hourly_kpis, ORACLE_HOURLY_KPIS),
    "agg_topk_by_freq": (q_agg_topk_by_freq, ORACLE_TOPK),
    "project_columns": (
        q_project_columns,
        "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
    ),
    "derive_date": (
        q_derive_date,
        "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,"
        " CAST(l_shipdate AS DATE) AS ship_date FROM lineitem",
    ),
    "derive_hour": (
        q_derive_hour,
        "SELECT event_id, CAST(hour(ts) AS BIGINT) AS hour FROM events",
    ),
    "parse_timestamp": (
        q_parse_timestamp,
        "SELECT event_id, CAST(ts AS TIMESTAMP) AS parsed_ts FROM events",
    ),
    "cast_types": (
        q_cast_types,
        "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber_big,"
        " CAST(l_quantity AS DOUBLE) AS quantity_dbl, CAST(l_tax AS DOUBLE) AS tax_dbl"
        " FROM lineitem",
    ),
    "rename_column": (
        q_rename_column,
        "SELECT p_partkey, p_type AS part_type, p_brand FROM part",
    ),
    "left_join_equi": (q_left_join_equi, ORACLE_LEFT_JOIN),
    "anti_join_orphans": (q_anti_join_orphans, ORACLE_ANTI_JOIN),
    "semi_join_matched": (q_semi_join_matched, ORACLE_SEMI_JOIN),
    "check_types": (q_check_types, ORACLE_CHECK_TYPES),
    "ddl_recreate": (
        q_ddl_recreate,
        "SELECT l_returnflag, COUNT(l_partkey) AS listen_count FROM lineitem GROUP BY 1",
    ),
    "agg_count": (
        q_agg_count,
        "SELECT l_returnflag, COUNT(l_partkey) AS listen_count FROM lineitem GROUP BY 1",
    ),
    "agg_avg": (q_agg_avg, ORACLE_AGG_AVG),
    "agg_mode": (q_agg_mode, ORACLE_AGG_MODE),
    "agg_count_distinct": (
        q_agg_count_distinct,
        "SELECT event_type, COUNT(DISTINCT user_id) AS unique_users FROM events GROUP BY 1",
    ),
    "agg_diversity_ratio": (
        q_agg_diversity_ratio,
        "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
        " AS user_diversity FROM events GROUP BY 1",
    ),
    "check_nonempty": (
        q_check_nonempty,
        "SELECT COUNT(*) AS total_rows, COUNT(*) > 0 AS nonempty FROM lineitem",
    ),
    "check_no_nulls": (
        q_check_no_nulls,
        "SELECT COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS null_l_orderkey,"
        " COUNT(CASE WHEN l_partkey IS NULL THEN 1 END) AS null_l_partkey,"
        " COUNT(CASE WHEN l_suppkey IS NULL THEN 1 END) AS null_l_suppkey,"
        " COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_l_quantity,"
        " COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS null_l_shipdate"
        " FROM lineitem",
    ),
    "check_freshness": (q_check_freshness, ORACLE_CHECK_FRESHNESS),
    "check_range": (
        q_check_range,
        "SELECT COUNT(CASE WHEN hour(ts) NOT BETWEEN 0 AND 23 THEN 1 END) AS out_of_range,"
        " COUNT(CASE WHEN hour(ts) BETWEEN 0 AND 23 THEN 1 END) AS in_range FROM events",
    ),
    "scan_csv_multi": (q_scan_csv_multi, ORACLE_EVENTS_ALL),
    "scan_json_lines": (q_scan_json_lines, ORACLE_EVENTS_ALL),
    "scan_orc_roundtrip": (q_scan_orc_roundtrip, ORACLE_EVENTS_ALL),
    "scan_xml_roundtrip": (q_scan_xml_roundtrip, ORACLE_EVENTS_ALL),
    "scan_binary_ingest": (q_scan_binary_ingest, ORACLE_BINARY_INGEST),
    "ref_pipeline_genre_kpis": (q_ref_pipeline_genre_kpis, ORACLE_REF_PIPELINE),
    "sink_csv": (q_sink_csv_roundtrip, ORACLE_AGG_AVG),
    "scan_parquet_pushdown": (
        q_scan_parquet_pushdown,
        "SELECT l_orderkey, l_partkey, l_quantity, l_discount FROM lineitem"
        " WHERE l_quantity > 45",
    ),
    "tpch_q1_pricing": (q_tpch_q1_pricing, ORACLE_TPCH_Q1),
    "top_revenue_customers": (q_top_revenue_customers, ORACLE_TOP_REVENUE),
}


# Extension + deeper-analytics registries merge with this one in
# plans/registry.py — import THAT for the full surface (keeps the
# module graph acyclic).
