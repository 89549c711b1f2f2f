"""Round-8 registry surface — built, oracle-twinned, and
pytest-verified in round 7, registered in round 8 (``registry.py``
merges ``REGISTRY_STAGED_R8``).

VERDICT r6 item 7 keeps the registry-freeze discipline: new surface
is pre-staged one round ahead (evidence banked: cell-exact oracle
parity normal + hostile, degenerate trio, property twins, scale
probes) so the next round's registration is a two-line
``registry.py`` change instead of fresh unproven code in the driver
window. This module extends the X42 statistical-inference family
with the three classical tests it still lacked, each re-expressed as
a shuffle-grain exact-arithmetic plan (no global sort, no collect):

- ``kruskal_wallis`` — the k-group rank-based one-way test (the
  distribution-free ANOVA; reference's pandas pipeline would call
  ``scipy.stats.kruskal`` on collected data). Value-grain rank
  decomposition exactly like ``mann_whitney_u``: pooled average
  ranks come from an exact distributed prefix sum over distinct
  values (``global_prefix_sum`` — range partition + broadcast
  offsets), doubled to stay integral under midpoint ties; the
  tie-corrected H statistic is fixed-order doubles over exact
  decimal sums.
- ``brown_forsythe`` — the median-centered Levene test of variance
  homogeneity (the robust "are spreads equal" companion to
  ``anova_oneway``). Exact per-group lower-median at the VALUE grain
  (the per-group window is bounded by the price DOMAIN — distinct
  cents values, ≤ ~10.4M possible for l_extendedprice — not by fact
  cardinality), then one-way ANOVA on integer deviations |v − m_g|
  with the same floor-quantized S²/n terms as ``anova_oneway``.
- ``changepoint_mean_shift`` — single change-point detection in the
  daily revenue series by maximizing the between-segment sum-of-
  squares split statistic n₁n₂/N·(μ₁−μ₂)² (binary-segmentation step
  / CUSUM-max equivalent). Day-grain prefix sums (bounded window,
  ~2.4k rows at any SF), exact decimal cumulative sums, raw-IEEE
  finals, total order (stat DESC, day ASC).

Determinism follows the round-7 quantize playbook
(``functions/quantize.py``): exact integer/decimal accumulation up
to one-row grain, finals emitted as RAW doubles because every final
here is ``+ - * /`` over exact sums in one fixed operation order
mirrored textually in the DuckDB oracle.

NEW TRAP, found building this module (now in the playbook): Spark's
``CAST(double AS DECIMAL)`` of a value ≥ 2^53 converts via the
JVM's ``Double.toString`` digit string (``BigDecimal.valueOf``),
NOT the exact binary expansion — and Java's dtoa emits "enough
digits to round-trip", which is USUALLY one short of the exact
integer value but not always (measured on Spark 4.1.2 / Java 17:
``lit(4.0829644555931686e17).cast("decimal(38,0)")`` → …860 while
the exact binary value is …864; yet ``1.3632997680123707e17`` →
…072 = exact). DuckDB always converts the exact binary value, so
the same cast differs between engines by a few units, unpredictably
per value. This rules out the ``anova_oneway``
``_floor_sat_safe``-into-DECIMAL carrier whenever the quantized
term can exceed 2^53 AT THE CHECKED SF (anova's terms only cross
2^53 at 1000× probes, where no oracle runs — these keys
cross at sf0.01 because they quantize cents², 10⁴ bigger). The
k-group term sums here therefore never re-enter decimals: the
groups are a CLOSED DOMAIN (TPC-H ``o_orderpriority`` 5 values,
``l_returnflag`` 3 values), so each S_g²/n_g term is pivoted into a
fixed column and the k-term sum is written as one fixed-order
double expression mirrored textually in the oracle — no float
aggregation, no double→decimal cast, bit-identical by IEEE 754.

Reference parity: the reference pipeline (KPrince-coder/
music-streaming-etl, dags/music_streaming_etl_dags.py) has no
hypothesis-test or changepoint primitive — pandas would delegate to
scipy/ruptures on collected data; these are the distributed-native
equivalents a 100 TB corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranking import global_prefix_sum
from .stats_queries import _CENTS, _cents
from .testdata_queries import _t


def _dec(col: F.Column, p: int = 19) -> F.Column:
    return col.cast(f"decimal({p},0)")


#: closed group domains (TPC-H column value sets) — the pivot basis
#: for the fixed-order k-term sums. A value OUTSIDE these sets would
#: be counted in k/n_rows but excluded from the pivoted term sum in
#: BOTH engines (they would agree cell-exactly on a statistically
#: wrong value), so the queries guard explicitly: when k exceeds the
#: number of non-null pivot columns, every derived statistic is
#: NULLed — identically in the oracle (``_domain_guard_sql``) — and
#: the test battery pins the guard with a crafted 6th group.
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_RETURNFLAGS = ("A", "N", "R")


def _pivot_present(n_groups: int, den_col: str) -> F.Column:
    """Count of groups actually captured by the pivot columns — the
    guard comparand for k."""
    acc = None
    for i in range(n_groups):
        term = F.when(F.col(f"{den_col}_{i}").isNotNull(), 1).otherwise(0)
        acc = term if acc is None else acc + term
    return acc.cast("bigint")


def _pivot_present_sql(n_groups: int, den_col: str) -> str:
    """SQL mirror of :func:`_pivot_present`."""
    return (
        "CAST(("
        + " + ".join(
            f"CASE WHEN {den_col}_{i} IS NOT NULL THEN 1 ELSE 0 END"
            for i in range(n_groups)
        )
        + ") AS BIGINT)"
    )


def _pivot_term(i: int, num_col: str, den_col: str) -> F.Column:
    """``coalesce(num² / den, 0.0)`` for one pivoted group — NULL
    (group absent from the data) contributes 0 to the k-term sum,
    exactly like the oracle's COALESCE(CASE …) mirror. Division by a
    NULL count is NULL (never an ANSI error — the count is ≥ 1
    whenever the group exists), so absent groups coalesce cleanly."""
    num = F.col(f"{num_col}_{i}").cast("double")
    den = F.col(f"{den_col}_{i}").cast("double")
    return F.coalesce(num * num / den, F.lit(0.0))


def _fixed_order_sum(terms: list[F.Column]) -> F.Column:
    """Left-fold ``((t0 + t1) + t2) + …`` — ONE textual operation
    order, mirrored in the oracle, so the float sum is bit-identical
    across engines (a SUM() aggregate over doubles would be
    partition-order-dependent)."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


# --------------------------------------------------------------------------
# Kruskal-Wallis H (k-group rank test)
# --------------------------------------------------------------------------


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does order value differ across the five priorities without
    assuming normality? Kruskal-Wallis H on pooled ranks of order
    cents by ``o_orderpriority``.

    Plan: (1) aggregate to (group, value) grain — the shuffle shrinks
    the fact scan to |groups × distinct values| rows; (2) distinct-
    value totals get an exact exclusive prefix sum over the value
    order (``global_prefix_sum``, no single-partition window); (3)
    the DOUBLED pooled average rank of value v is the integer
    ``2·cum_before(v) + t_v + 1``, so per-group doubled rank sums
    R2_g = Σ c_gv·r2_v stay exact decimals under ties; (4) the
    priorities are a closed 5-value domain, so the k-row reduction
    PIVOTS each group's (n_g, R2_g) into fixed columns and sums the
    R2_g²/n_g terms in one fixed textual operation order in doubles
    (see module docstring — the double→decimal quantize carrier is
    engine-ambiguous past 2^53) and the final

        H = [12/(N(N+1)) · ΣR_g²/n_g − 3(N+1)] / (1 − Σ(t³−t)/(N³−N))

    is fixed-order doubles over exact sums (raw IEEE — no float
    rounding). NULL when N ≤ 1 or every value is tied (the
    correction term's denominator/zero guards mirror NULLIF; DuckDB
    division by zero is NULL, same as ``try_divide``)."""
    orders = _t(spark, sf_dir, "orders")
    gv = (
        orders.select(
            F.col("o_orderpriority").alias("g"), _cents().alias("v")
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tv = gv.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    pref = global_prefix_sum(tv, [F.asc("v")], "t", alias="cumb").select(
        "v", "t", "cumb"
    )
    # doubled average rank of value v: 2·cumb + t + 1 (integral under
    # midpoint ties); same decimal shapes as rank_sum_stats so the
    # product precision math is the proven one
    jg = gv.join(pref, "v").groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            _dec(F.col("c"))
            * (F.lit(2) * _dec(F.col("cumb"), 14) + F.col("t") + F.lit(1))
        )
        .cast("decimal(38,0)")
        .alias("r2"),
    )
    ties = pref.agg(
        F.sum(
            _dec(F.col("t"), 12) * _dec(F.col("t"), 12) * _dec(F.col("t"), 12)
            - F.col("t")
        )
        .cast("decimal(38,0)")
        .alias("ties")
    )
    pivots = [
        c
        for i, p in enumerate(_PRIORITIES)
        for c in (
            F.max(F.when(F.col("g") == p, F.col("n"))).alias(f"n_{i}"),
            F.max(F.when(F.col("g") == p, F.col("r2"))).alias(f"r2_{i}"),
        )
    ]
    tot = (
        jg.agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("n").cast("bigint").alias("n_all"),
            *pivots,
        )
        .crossJoin(F.broadcast(ties))
        .withColumn(
            "rank_terms",
            _fixed_order_sum(
                [_pivot_term(i, "r2", "n") for i in range(len(_PRIORITIES))]
            ),
        )
        .withColumn("present", _pivot_present(len(_PRIORITIES), "n"))
    )
    guard = F.col("k") == F.col("present")
    nd = F.col("n_all").cast("double")
    # fixed operation order, mirrored textually in the oracle; the
    # /4 undoes the rank doubling (r2² = 4·R²) AFTER the k-term sum
    # so both engines divide the identical double. Division by 4 is
    # a power-of-two scaling — exact in IEEE 754, so folding it into
    # the EMITTED column (ADVICE r7: a consumer reading rank_terms
    # must get the textbook ΣR_g²/n_g, not 4× it) costs nothing.
    terms4 = F.col("rank_terms") / F.lit(4.0)
    h_num = F.try_divide(
        F.lit(12.0) * terms4,
        nd * (nd + F.lit(1.0)),
    ) - F.lit(3.0) * (nd + F.lit(1.0))
    corr = F.lit(1.0) - F.try_divide(
        F.col("ties").cast("double"), nd * nd * nd - nd
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n_all").alias("n_rows"),
        # domain guard: a group value outside _PRIORITIES is counted
        # in k/n_rows but missing from the pivot — NULL the derived
        # stats rather than agree with the oracle on a wrong value
        F.when(guard, terms4).alias("rank_terms"),
        F.when(
            guard, F.try_divide(h_num, F.nullif(corr, F.lit(0.0)))
        ).alias("h_stat"),
    )


def _pivot_cols_sql(groups: tuple, cols: tuple) -> str:
    """MAX(CASE …) pivot column list — the SQL mirror of the Spark
    pivot aggregate."""
    return ",\n         ".join(
        f"MAX(CASE WHEN g = '{g}' THEN {c} END) AS {c}_{i}"
        for i, g in enumerate(groups)
        for c in cols
    )


def _terms_fold_sql(n: int, num: str, den: str) -> str:
    """Left-fold ``((t0 + t1) + t2) + …`` of the COALESCEd pivot
    terms — the SQL mirror of ``_fixed_order_sum(_pivot_term(i))``."""
    term = (
        "COALESCE(CAST({num}_{i} AS DOUBLE) * CAST({num}_{i} AS DOUBLE)"
        " / CAST({den}_{i} AS DOUBLE), 0.0)"
    )
    acc = term.format(num=num, den=den, i=0)
    for i in range(1, n):
        acc = f"({acc}\n      + {term.format(num=num, den=den, i=i)})"
    return acc


ORACLE_KRUSKAL_WALLIS = f"""
WITH s AS (
  SELECT o_orderpriority AS g, {_CENTS} AS v FROM orders
), gv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
), tv AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM gv GROUP BY 1
), p AS (
  SELECT v, t,
         CAST(COALESCE(SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cumb
  FROM tv
), jg AS (
  SELECT gv.g, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(c AS DECIMAL(19,0))
              * (2 * CAST(cumb AS DECIMAL(14,0)) + t + 1))
           AS DECIMAL(38,0)) AS r2
  FROM gv JOIN p USING (v) GROUP BY 1
), ties AS (
  SELECT CAST(SUM(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
                   * CAST(t AS DECIMAL(12,0)) - t)
           AS DECIMAL(38,0)) AS ties
  FROM p
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_all,
         {_pivot_cols_sql(_PRIORITIES, ("n", "r2"))}
  FROM jg
), terms AS (
  SELECT k, n_all, ties,
    {_terms_fold_sql(len(_PRIORITIES), "r2", "n")} AS rank_terms,
    {_pivot_present_sql(len(_PRIORITIES), "n")} AS present
  FROM tot, ties
)
SELECT k AS n_groups, n_all AS n_rows,
       CASE WHEN k = present THEN rank_terms / 4.0 END AS rank_terms,
       CASE WHEN k = present THEN
       ((12.0 * (rank_terms / 4.0))
          / NULLIF(CAST(n_all AS DOUBLE) * (CAST(n_all AS DOUBLE) + 1.0), 0.0)
        - 3.0 * (CAST(n_all AS DOUBLE) + 1.0))
       / NULLIF(1.0 - CAST(ties AS DOUBLE)
                / NULLIF(CAST(n_all AS DOUBLE) * CAST(n_all AS DOUBLE)
                         * CAST(n_all AS DOUBLE) - CAST(n_all AS DOUBLE), 0.0),
                0.0) END AS h_stat
FROM terms
"""


# --------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene variance-homogeneity test)
# --------------------------------------------------------------------------


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are price SPREADS equal across lineitem return flags?
    Brown-Forsythe: one-way ANOVA on the absolute deviations
    z = |v − median_g| from each group's median — the robust Levene
    variant (median-centered, so heavy tails do not inflate the
    statistic the way mean-centered Levene does).

    Exact TRUE median (scipy.stats.levene(center='median') parity —
    ADVICE r7: the lower-median shortcut measurably deviated for even
    group sizes) computed interpolation-free on the DOUBLED-cents
    grid: with v_lo at rank ⌊(n_g+1)/2⌋ and v_hi at rank ⌊n_g/2⌋+1,
    the doubled median m2 = v_lo + v_hi is integral (= 2·v for odd
    n_g), so doubled deviations z = |2v − m2| stay exact integers and
    the emitted SS columns are the doubled-grid sums divided by 4.0 —
    a power-of-two scaling, exact in IEEE 754, and F is invariant to
    it. Found at the (group, value) grain: the per-group cumulative
    window runs over DISTINCT cents values, bounded by the price
    domain (≤ ~10.4M possible values for l_extendedprice) rather than
    fact cardinality, so the window never sees 100 TB. Deviations are
    exact integers, so n_g/S_g/SS_g are exact decimals; the
    return flags are a closed 3-value domain, so the S_g²/n_g terms
    are pivoted into fixed columns and summed in one fixed textual
    operation order in doubles (module docstring: the
    double→decimal carrier is engine-ambiguous past 2^53, which
    these cents² terms cross already at sf0.01), and SSB/SSW/F are
    fixed-order raw-IEEE doubles of exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    gv = (
        li.select(
            F.col("l_returnflag").alias("g"),
            (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wcum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("g")
    cw = gv.select(
        "g",
        "v",
        "c",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
        F.sum("c").over(wall).cast("bigint").alias("n_g"),
    )
    # true-median ranks: v_lo at ⌊(n_g+1)/2⌋, v_hi at ⌊n_g/2⌋+1
    # (equal when n_g is odd). Floor division on BOTH sides (DuckDB
    # int "//"; Spark F.floor of the double quotient — exact for
    # counts < 2^52). MIN(CASE…) picks the single matching distinct
    # value per rank; the doubled median m2 = v_lo + v_hi stays
    # integral on the doubled grid.
    r_lo = F.floor((F.col("n_g") + 1) / 2).cast("bigint")
    r_hi = (F.floor(F.col("n_g") / 2) + 1).cast("bigint")
    med = cw.groupBy("g").agg(
        F.min(
            F.when(
                (F.col("cum") >= r_lo) & (F.col("cum") - F.col("c") < r_lo),
                F.col("v"),
            )
        ).alias("vlo"),
        F.min(
            F.when(
                (F.col("cum") >= r_hi) & (F.col("cum") - F.col("c") < r_hi),
                F.col("v"),
            )
        ).alias("vhi"),
    )
    z = gv.join(F.broadcast(med), "g").select(
        "g",
        "c",
        F.abs(2 * F.col("v") - (F.col("vlo") + F.col("vhi"))).alias("z"),
    )
    zd = F.col("z").cast("decimal(14,0)")
    st = z.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(_dec(F.col("c")) * zd).cast("decimal(38,0)").alias("sm"),
        F.sum(_dec(F.col("c"), 10) * zd * zd)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    pivots = [
        c
        for i, flag in enumerate(_RETURNFLAGS)
        for c in (
            F.max(F.when(F.col("g") == flag, F.col("n"))).alias(f"n_{i}"),
            F.max(F.when(F.col("g") == flag, F.col("sm"))).alias(f"sm_{i}"),
        )
    ]
    tot = st.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("sm").cast("decimal(38,0)").alias("s_all"),
        F.sum("ss").cast("decimal(38,0)").alias("ss_all"),
        *pivots,
    ).withColumn(
        "sg",
        _fixed_order_sum(
            [_pivot_term(i, "sm", "n") for i in range(len(_RETURNFLAGS))]
        ),
    ).withColumn("present", _pivot_present(len(_RETURNFLAGS), "n"))
    grand = (
        F.col("s_all").cast("double")
        * F.col("s_all").cast("double")
        / F.col("n_all").cast("double")
    )
    wide = tot.select(
        "k",
        "n_all",
        # domain guard: see _PRIORITIES/_RETURNFLAGS note — an
        # unpivoted group would silently skew the term sum in BOTH
        # engines, so derived stats are NULLed instead
        F.when(F.col("k") == F.col("present"), F.col("sg") - grand).alias(
            "ssb"
        ),
        F.when(
            F.col("k") == F.col("present"),
            F.col("ss_all").cast("double") - F.col("sg"),
        ).alias("ssw"),
    )
    return wide.select(
        F.col("k").alias("n_groups"),
        F.col("n_all").alias("n_rows"),
        # /4.0 restores the cents² grid from the doubled-deviation
        # grid (z = 2·|v − median| ⇒ SS × 4) — exact IEEE scaling
        (F.col("ssb") / F.lit(4.0)).alias("ss_between"),
        (F.col("ssw") / F.lit(4.0)).alias("ss_within"),
        # F is invariant to the doubling: the /4 cancels bit-exactly
        F.try_divide(
            F.try_divide(F.col("ssb"), (F.col("k") - 1).cast("double")),
            F.try_divide(
                F.col("ssw"),
                (F.col("n_all") - F.col("k")).cast("double"),
            ),
        ).alias("f_stat"),
    )


ORACLE_BROWN_FORSYTHE = f"""
WITH s AS (
  SELECT l_returnflag AS g,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
  FROM lineitem
), gv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
), cw AS (
  SELECT g, v, c,
         CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n_g
  FROM gv
), med AS (
  SELECT g,
         MIN(CASE WHEN cum >= (n_g + 1) // 2
                   AND cum - c < (n_g + 1) // 2 THEN v END) AS vlo,
         MIN(CASE WHEN cum >= n_g // 2 + 1
                   AND cum - c < n_g // 2 + 1 THEN v END) AS vhi
  FROM cw GROUP BY g
), z AS (
  SELECT gv.g AS g, c, abs(2 * gv.v - (vlo + vhi)) AS z
  FROM gv JOIN med ON gv.g = med.g
), st AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(z AS DECIMAL(14,0)))
           AS DECIMAL(38,0)) AS sm,
         CAST(SUM(CAST(c AS DECIMAL(10,0)) * CAST(z AS DECIMAL(14,0))
                  * CAST(z AS DECIMAL(14,0))) AS DECIMAL(38,0)) AS ss
  FROM z GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(sm) AS DECIMAL(38,0)) AS s_all,
         CAST(SUM(ss) AS DECIMAL(38,0)) AS ss_all,
         {_pivot_cols_sql(_RETURNFLAGS, ("n", "sm"))}
  FROM st
), terms AS (
  SELECT k, n_all, s_all, ss_all,
    {_terms_fold_sql(len(_RETURNFLAGS), "sm", "n")} AS sg,
    {_pivot_present_sql(len(_RETURNFLAGS), "n")} AS present
  FROM tot
), wide AS (
  SELECT k, n_all,
         CASE WHEN k = present THEN
           sg - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                / CAST(n_all AS DOUBLE) END AS ssb,
         CASE WHEN k = present THEN
           CAST(ss_all AS DOUBLE) - sg END AS ssw
  FROM terms
)
SELECT k AS n_groups, n_all AS n_rows,
       ssb / 4.0 AS ss_between, ssw / 4.0 AS ss_within,
       (ssb / NULLIF(CAST(k - 1 AS DOUBLE), 0.0))
         / NULLIF(ssw / NULLIF(CAST(n_all - k AS DOUBLE), 0.0), 0.0) AS f_stat
FROM wide
"""


# --------------------------------------------------------------------------
# Single change-point in the daily revenue series
# --------------------------------------------------------------------------


def q_changepoint_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE does the daily-revenue mean shift most? The binary-
    segmentation step statistic: for every split day t,

        G(t) = n₁n₂/N · (μ₁ − μ₂)²

    (the between-segment sum of squares of the two-segment model —
    maximizing it is equivalent to the CUSUM-max changepoint test),
    reported for the argmax split with a total order (stat DESC, day
    ASC). The fact scan collapses to day grain first (one shuffle);
    prefix sums run over the bounded ~2.4k-row day frame (the
    documented day-grain window class), segment sums stay exact
    decimals, and the means/statistic are fixed-order raw-IEEE
    doubles of those exact sums — bit-identical across engines, so
    the argmax ordering is too. The last day is excluded (empty
    right segment)."""
    orders = _t(spark, sf_dir, "orders")
    d = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(_cents()).cast("decimal(38,0)").alias("s"),
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.select(
        "day",
        F.sum("n").over(wcum).cast("bigint").alias("cn"),
        F.sum("s").over(wcum).cast("decimal(38,0)").alias("cs"),
    )
    tot = d.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("decimal(38,0)").alias("st"),
    )
    j = cum.crossJoin(F.broadcast(tot)).filter(F.col("cn") < F.col("nt"))
    n1 = F.col("cn").cast("double")
    n2 = (F.col("nt") - F.col("cn")).cast("double")
    ntd = F.col("nt").cast("double")
    m1 = F.col("cs").cast("double") / n1
    m2 = (F.col("st") - F.col("cs")).cast("double") / n2
    diff = m1 - m2
    out = j.select(
        F.col("day").alias("split_date"),
        F.col("cn").alias("n_before"),
        (F.col("nt") - F.col("cn")).alias("n_after"),
        m1.alias("mean_before"),
        m2.alias("mean_after"),
        (((n1 * n2) / ntd) * (diff * diff)).alias("shift_stat"),
    )
    return out.orderBy(
        F.col("shift_stat").desc(), F.col("split_date").asc()
    ).limit(1)


ORACLE_CHANGEPOINT_MEAN_SHIFT = f"""
WITH d AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS s
  FROM orders GROUP BY 1
), c AS (
  SELECT day,
         CAST(SUM(n) OVER w AS BIGINT) AS cn,
         CAST(SUM(s) OVER w AS DECIMAL(38,0)) AS cs
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS DECIMAL(38,0)) AS st
  FROM d
)
SELECT day AS split_date,
       cn AS n_before,
       nt - cn AS n_after,
       CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) AS mean_before,
       CAST(st - cs AS DOUBLE) / CAST(nt - cn AS DOUBLE) AS mean_after,
       ((CAST(cn AS DOUBLE) * CAST(nt - cn AS DOUBLE)) / CAST(nt AS DOUBLE))
         * ((CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)
             - CAST(st - cs AS DOUBLE) / CAST(nt - cn AS DOUBLE))
            * (CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE)
               - CAST(st - cs AS DOUBLE) / CAST(nt - cn AS DOUBLE)))
         AS shift_stat
FROM c, t
WHERE cn < nt
ORDER BY shift_stat DESC, split_date ASC
LIMIT 1
"""


REGISTRY_STAGED_R8: dict = {
    "kruskal_wallis": (q_kruskal_wallis, ORACLE_KRUSKAL_WALLIS),
    "brown_forsythe": (q_brown_forsythe, ORACLE_BROWN_FORSYTHE),
    "changepoint_mean_shift": (
        q_changepoint_mean_shift,
        ORACLE_CHANGEPOINT_MEAN_SHIFT,
    ),
}
