"""Round-3 closing batch: decision/finance/ranking analytics — the
operator families a revenue-analytics team layers on top of the core
KPI surface (reference scope: dags/music_streaming_etl_dags.py
computes static KPIs only; everything here is X-scope breadth).

Welch's t-test completes the hypothesis-test family (z-test /
Mann-Whitney / ANOVA / chi-square already shipped); max drawdown,
revenue recognition and NPV-style allocation cover the finance
shapes; rank-biased overlap compares top-k leaderboards across
periods; UCB1 closes the experimentation loop (score -> allocation);
item-neighborhood Jaccard is the exact graph-similarity twin of the
LSH families; Holt linear smoothing extends EWMA with a trend state.

Determinism playbook as everywhere in this engine: exact BIGINT /
DECIMAL accumulation for everything an engine could reorder, doubles
only in final scalar formulas written in ONE textual operation order
mirrored between the Spark plan and the DuckDB oracle, ``round(_,6)``
(or exact integer micro-units) before emitting any float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q6, q6_sql
from .testdata_queries import _t

REGISTRY_DECISION: dict = {}


_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _cents() -> F.Column:
    return (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")


# --------------------------------------------------------------------------
# Welch's two-sample t-test (unequal variances)
# --------------------------------------------------------------------------


def q_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on order value: URGENT vs LOW
    priority. The parametric twin of ``mann_whitney_u`` — together
    with ``ab_test_zscores`` (proportions) and ``anova_oneway``
    (k groups) this completes the classical two-sample toolbox.

    Scale shape: ONE partial-aggregated pass computes (n, sum, sum of
    squares) per group in exact BIGINT/DECIMAL — no collect, no
    per-row Python. The t statistic and Welch-Satterthwaite df are a
    fixed-order IEEE formula over six exact integers, rounded to 6dp
    (the engine's float-emission rule)."""
    orders = _t(spark, sf_dir, "orders")
    two = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        _cents().alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_pos"),
    )
    g = two.groupBy("is_pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(
            (F.col("v").cast("decimal(19,0)") * F.col("v")).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("q"),
    )
    a = g.filter(F.col("is_pos")).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    b = g.filter(~F.col("is_pos")).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    j = a.crossJoin(b)
    # fixed-order double formula; mirrored textually in the oracle
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    v1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * m1) / (
        F.col("n1") - 1
    ).cast("double")
    v2 = (F.col("q2").cast("double") - F.col("s2").cast("double") * m2) / (
        F.col("n2") - 1
    ).cast("double")
    se1 = v1 / F.col("n1").cast("double")
    se2 = v2 / F.col("n2").cast("double")
    se = se1 + se2
    t = (m1 - m2) / F.sqrt(se)
    df = (se * se) / (
        se1 * se1 / (F.col("n1") - 1).cast("double")
        + se2 * se2 / (F.col("n2") - 1).cast("double")
    )
    return j.select(
        F.col("n1"),
        F.col("n2"),
        # raw finals (round-7 sweep): fixed-order + - * / sqrt over
        # exact sums — bit-identical across engines (ROUND(DOUBLE, 6)
        # is the anova-class ambiguity; see functions/quantize)
        (m1 - m2).alias("mean_diff_cents"),
        t.alias("t_stat"),
        df.alias("df_welch"),
    )


ORACLE_WELCH = f"""
WITH s AS (
  SELECT {_CENTS} AS v, (o_orderpriority = '1-URGENT') AS is_pos
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), g AS (
  SELECT is_pos,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS DECIMAL(19,0)) * v) AS DECIMAL(38,0)) AS q
  FROM s GROUP BY 1
), w AS (
  SELECT a.n AS n1, a.s AS s1, a.q AS q1,
         b.n AS n2, b.s AS s2, b.q AS q2
  FROM (SELECT * FROM g WHERE is_pos) a,
       (SELECT * FROM g WHERE NOT is_pos) b
), f AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
            * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
           / CAST(n1 - 1 AS DOUBLE) AS v1,
         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)
            * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
           / CAST(n2 - 1 AS DOUBLE) AS v2
  FROM w
), e AS (
  SELECT n1, n2, m1, m2,
         v1 / CAST(n1 AS DOUBLE) AS se1,
         v2 / CAST(n2 AS DOUBLE) AS se2
  FROM f
)
SELECT n1, n2,
       m1 - m2 AS mean_diff_cents,
       (m1 - m2) / sqrt(se1 + se2) AS t_stat,
       ((se1 + se2) * (se1 + se2))
             / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
                + se2 * se2 / CAST(n2 - 1 AS DOUBLE)) AS df_welch
FROM e
"""


# --------------------------------------------------------------------------
# Maximum drawdown of the daily-revenue series
# --------------------------------------------------------------------------


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-trough maximum drawdown of the daily revenue series,
    per order priority: running prefix peak (window max), drawdown =
    peak - value, argmax with a deterministic (drawdown DESC, day
    ASC) tie-break. The risk-dashboard classic.

    Scale shape: day-grain series per priority (window partition =
    priority, frame length = #days — calendar-bounded state, exactly
    the `rolling_7day_revenue` contract). All cents exact BIGINT; the
    ratio is the only double, rounded at emit."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(_cents()).cast("bigint").alias("cents"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "o_orderpriority",
        "day",
        "cents",
        F.max("cents").over(w).alias("peak"),
    ).withColumn("drawdown", F.col("peak") - F.col("cents"))
    pick = Window.partitionBy("o_orderpriority").orderBy(
        F.col("drawdown").desc(), F.col("day").asc()
    )
    return (
        dd.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("day").alias("trough_day"),
            F.col("peak").alias("peak_cents"),
            F.col("drawdown").alias("max_drawdown_cents"),
            # raw final: one quotient of exact bigints
            (
                F.col("drawdown").cast("double")
                / F.col("peak").cast("double")
            ).alias("drawdown_ratio"),
        )
    )


ORACLE_DRAWDOWN = f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), dd AS (
  SELECT o_orderpriority, day, cents,
         MAX(cents) OVER (PARTITION BY o_orderpriority ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM daily
), r AS (
  SELECT o_orderpriority, day, peak, peak - cents AS drawdown,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
           ORDER BY peak - cents DESC, day ASC) AS rn
  FROM dd
)
SELECT o_orderpriority, day AS trough_day, peak AS peak_cents,
       drawdown AS max_drawdown_cents,
       CAST(drawdown AS DOUBLE) / CAST(peak AS DOUBLE)
         AS drawdown_ratio
FROM r WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Rank-biased overlap between two top-k leaderboards
# --------------------------------------------------------------------------

# exact decimal literals for 0.9^(d-1), d = 1..20: 9^(d-1) / 10^(d-1).
# Generated as strings so the Spark literal and the oracle literal are
# the SAME decimal->double rounding on both engines.
_RBO_P = [
    "1" if i == 0 else "0." + str(9**i).zfill(i) for i in range(20)
]


def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, truncated at k=20,
    p=0.9) between the first-half-of-month and second-half-of-month
    click leaderboards of the `k` item (events.props JSON). Answers
    "how much did the top-20 chart churn?" with a top-weighted score
    — the leaderboard-stability metric the plain set-Jaccard of
    `audience_overlap` can't express.

    Scale shape: each leaderboard is an agg + global top-k via
    TakeOrderedAndProject (never a full sort); everything after runs
    on <= 20-row frames (the bounded-window exemption). p^(d-1) terms
    are exact decimal literals (9^i/10^i) so no engine ever calls
    pow(); per-depth terms are rounded to 9dp and summed as exact
    DECIMAL(14,9) — order-independent."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.to_date("ts").alias("day"),
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )

    def top20(df: DataFrame) -> DataFrame:
        counts = df.groupBy("item").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        top = counts.orderBy(F.col("c").desc(), F.col("item").asc()).limit(20)
        return top.select(
            "item",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("item").asc()))
            .alias("rk"),
        )

    a = top20(clicks.filter(F.col("day") < F.lit("2024-01-16")))
    b = top20(clicks.filter(F.col("day") >= F.lit("2024-01-16")))
    both = a.join(
        b.withColumnRenamed("rk", "rk_b"), "item"
    ).select(F.greatest("rk", "rk_b").alias("m"))
    depth = spark.range(1, 21).select(F.col("id").cast("int").alias("d"))
    # explode m..20 and equi-join the depth spine — the stickiness
    # pattern; a `m <= d` range predicate would plan a nested loop
    hits = both.select(
        F.explode(F.sequence(F.col("m"), F.lit(20))).alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ov = depth.join(hits, "d", "left").select(
        "d", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("ov")
    )
    p = F.element_at(
        F.array(*[F.lit(float(x)) for x in _RBO_P]), F.col("d")
    )
    # floor-quantized nano-term (round-7 sweep): p, ov, d are engine-
    # identical doubles, so the integer 1e-9-unit floor is
    # unambiguous; the final is a raw fixed-order expression
    terms = ov.select(
        "d",
        "ov",
        F.floor(
            p * F.col("ov").cast("double") / F.col("d").cast("double")
            * F.lit(1e9)
        )
        .cast("decimal(19,0)")
        .alias("term_u"),
    )
    return terms.agg(
        (
            F.sum("term_u").cast("decimal(20,0)").cast("double")
            / F.lit(1e9)
            * 0.1
        ).alias("rbo"),
        F.max(F.when(F.col("d") == 20, F.col("ov")))
        .cast("bigint")
        .alias("overlap_at_20"),
    )


_RBO_ARRAY_SQL = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in _RBO_P) + "]"

ORACLE_RBO = f"""
WITH clicks AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(json_extract(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'
), ca AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM clicks
  WHERE day < DATE '2024-01-16' GROUP BY 1
), cb AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM clicks
  WHERE day >= DATE '2024-01-16' GROUP BY 1
), ra AS (
  SELECT item, rk FROM (
    SELECT item, ROW_NUMBER() OVER (ORDER BY c DESC, item ASC) AS rk
    FROM ca) WHERE rk <= 20
), rb AS (
  SELECT item, rk FROM (
    SELECT item, ROW_NUMBER() OVER (ORDER BY c DESC, item ASC) AS rk
    FROM cb) WHERE rk <= 20
), both_m AS (
  SELECT GREATEST(ra.rk, rb.rk) AS m FROM ra JOIN rb USING (item)
), depth AS (
  SELECT CAST(range AS INTEGER) AS d FROM range(1, 21)
), hits AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT CAST(unnest(range(m, 21)) AS INTEGER) AS d FROM both_m
  ) GROUP BY 1
), ov AS (
  SELECT depth.d, CAST(COALESCE(c, 0) AS BIGINT) AS ov
  FROM depth LEFT JOIN hits ON depth.d = hits.d
), terms AS (
  SELECT d, ov,
         CAST(floor({_RBO_ARRAY_SQL}[d] * CAST(ov AS DOUBLE)
                    / CAST(d AS DOUBLE) * 1e9) AS DECIMAL(19,0)) AS term_u
  FROM ov
)
SELECT CAST(CAST(SUM(term_u) AS DECIMAL(20,0)) AS DOUBLE) / 1e9 * 0.1
         AS rbo,
       CAST(MAX(CASE WHEN d = 20 THEN ov END) AS BIGINT) AS overlap_at_20
FROM terms
"""


# --------------------------------------------------------------------------
# Revenue recognition: spread each order over a 12-month service period
# --------------------------------------------------------------------------


def q_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscription-style revenue recognition: each order's total is
    recognized evenly over the 12 months starting at its order date,
    with the integer-cents remainder assigned to the EARLIEST months
    (largest-remainder rule, same policy as `largest_remainder_quota`)
    so every order's allocations sum to its cents exactly. Output:
    recognized revenue per calendar month.

    Scale shape: a bounded 12x explode (`F.sequence`) then one
    month-grain aggregate — identical fan-out contract to
    `stickiness_ratios`' 28x lag explode. Integer-exact end to end;
    `DIV` (not `/`) for the per-month base so no double ever appears."""
    orders = _t(spark, sf_dir, "orders")
    alloc = orders.select(
        F.to_date("o_orderdate").alias("d0"), _cents().alias("cents")
    ).select(
        "d0",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(11))).alias("off"),
    )
    per = alloc.select(
        F.trunc(F.add_months(F.col("d0"), F.col("off")), "MM").alias("month"),
        (
            F.expr("cents DIV 12")
            + F.when(F.col("off") < F.col("cents") % 12, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("part"),
    )
    return per.groupBy("month").agg(
        F.sum("part").cast("bigint").alias("recognized_cents")
    )


ORACLE_REV_REC = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d0, {_CENTS} AS cents
  FROM orders
), alloc AS (
  SELECT date_trunc('month', d0 + to_months(CAST(off AS INTEGER))) AS month,
         cents // 12
           + CASE WHEN off < cents % 12 THEN 1 ELSE 0 END AS part
  FROM o, range(0, 12) r(off)
)
SELECT CAST(month AS DATE) AS month,
       CAST(SUM(part) AS BIGINT) AS recognized_cents
FROM alloc GROUP BY 1
"""


# --------------------------------------------------------------------------
# Item-neighborhood Jaccard similarity (exact graph twin of the LSH family)
# --------------------------------------------------------------------------


def q_item_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact buyer-neighborhood Jaccard similarity between the top-50
    best-selling parts: J(a,b) = |buyers(a) & buyers(b)| /
    |buyers(a) | buyers(b)|, top 25 pairs. The exact co-purchase
    similarity that `embedding_neardup` / `ngram_jaccard` approximate
    with sketches — restricted to a bounded candidate set so it stays
    exact at any scale.

    Scale shape: candidate items via global top-k
    (TakeOrderedAndProject) -> 50-row broadcast semi-join prunes the
    buyers frame -> self-join on the CUSTOMER key with a pinned MERGE
    hint (a self-join's sides are identical, so Catalyst's broadcast
    estimate can never be right — the `copurchase_pairs` lesson);
    per-customer pair fan-out is bounded by 50*49/2. Final top-25 is
    again TakeOrderedAndProject."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    buyers = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("l_partkey").alias("part"), F.col("o_custkey").alias("cust"))
        .distinct()
    )
    deg = buyers.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    top = deg.orderBy(F.col("nb").desc(), F.col("part").asc()).limit(50)
    bt = buyers.join(F.broadcast(top.select("part")), "part", "left_semi")
    left = bt.select(F.col("part").alias("pa"), "cust")
    right = bt.select(F.col("part").alias("pb"), "cust")
    inter = (
        left.hint("merge")
        .join(right, "cust")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    na = top.select(F.col("part").alias("pa"), F.col("nb").alias("na"))
    nb = top.select(F.col("part").alias("pb"), F.col("nb").alias("nb_"))
    j = (
        inter.join(F.broadcast(na), "pa")
        .join(F.broadcast(nb), "pb")
        .select(
            "pa",
            "pb",
            "inter",
            (F.col("na") + F.col("nb_") - F.col("inter")).alias("uni"),
        )
        .withColumn(
            # raw final (round-7 sweep): one quotient of exact bigints
            "jaccard",
            F.col("inter").cast("double") / F.col("uni").cast("double"),
        )
    )
    return j.orderBy(
        F.col("jaccard").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(25)


ORACLE_ITEM_JACCARD = """
WITH buyers AS (
  SELECT DISTINCT l_partkey AS part, o_custkey AS cust
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), deg AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS nb FROM buyers GROUP BY 1
), top AS (
  SELECT part, nb FROM deg ORDER BY nb DESC, part ASC LIMIT 50
), bt AS (
  SELECT b.part, b.cust FROM buyers b JOIN top t ON b.part = t.part
), inter AS (
  SELECT a.part AS pa, b.part AS pb, CAST(COUNT(*) AS BIGINT) AS inter
  FROM bt a JOIN bt b ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2
), j AS (
  SELECT pa, pb, inter,
         ta.nb + tb.nb - inter AS uni,
         CAST(inter AS DOUBLE)
               / CAST(ta.nb + tb.nb - inter AS DOUBLE) AS jaccard
  FROM inter JOIN top ta ON pa = ta.part JOIN top tb ON pb = tb.part
)
SELECT pa, pb, inter, uni, jaccard
FROM j ORDER BY jaccard DESC, pa ASC, pb ASC LIMIT 25
"""


# --------------------------------------------------------------------------
# UCB1 bandit allocation over order-priority "arms"
# --------------------------------------------------------------------------


def q_ucb1_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 score per arm (order priority; reward = order reached the
    'F' fulfilled status): mean reward + sqrt(2 ln N / n), the
    optimism bonus that tells an experimenter where the NEXT
    observation should go. Closes the loop the test-statistic queries
    (`ab_test_zscores`, `welch_t_test`) open: score -> allocation.

    Scale shape: one partial-aggregated pass to the 5-row arm grain;
    the score is a fixed-order IEEE formula over exact counts,
    rounded to 6dp BEFORE ranking so the allocation rank ties break
    on the rounded value + arm name identically in any engine (a
    bounded 5-row window)."""
    orders = _t(spark, sf_dir, "orders")
    arms = orders.groupBy(F.col("o_orderpriority").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    total = arms.agg(F.sum("n").cast("bigint").alias("n_total"))
    scored = arms.crossJoin(F.broadcast(total)).select(
        "arm",
        "n",
        "x",
        # raw quotient (round-7 sweep); the ucb term has a libm ln,
        # so it is q6-floored (engine-unambiguous) before ranking
        (F.col("x").cast("double") / F.col("n").cast("double")).alias(
            "mean_reward"
        ),
        q6(
            F.col("x").cast("double") / F.col("n").cast("double")
            + F.sqrt(
                2.0
                * F.log(F.col("n_total").cast("double"))
                / F.col("n").cast("double")
            )
        ).alias("ucb_score"),
    )
    pick = Window.orderBy(F.col("ucb_score").desc(), F.col("arm").asc())
    return scored.withColumn(
        "allocation_rank", F.row_number().over(pick).cast("int")
    )


ORACLE_UCB1 = f"""
WITH arms AS (
  SELECT o_orderpriority AS arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), total AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM arms),
raw AS (
  SELECT arm, n, x,
         CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS mean_reward,
         CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
               + sqrt(2.0 * ln(CAST(n_total AS DOUBLE))
                      / CAST(n AS DOUBLE)) AS u0
  FROM arms, total
), scored AS (
  SELECT arm, n, x, mean_reward, {q6_sql('u0')} AS ucb_score FROM raw
)
SELECT arm, n, x, mean_reward, ucb_score,
       CAST(ROW_NUMBER() OVER (ORDER BY ucb_score DESC, arm ASC)
            AS INTEGER) AS allocation_rank
FROM scored
"""


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (level + trend state), integer micro-units
# --------------------------------------------------------------------------


def q_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the daily
    event-count series per event type — the trend-aware extension of
    `ewma_daily_revenue` (which has level state only). alpha = 0.5,
    beta = 0.3; init l1 = y1, b1 = 0 (documented engine convention).
    Emits the final level/trend state and the 7-day-ahead linear
    forecast l + 7b.

    Determinism: the recursion runs ENTIRELY in BIGINT micro-units
    (x 1e6); each step divides via floor(x / 2.0) and floor(x / 10.0)
    — exact for |x| << 2^52, and floor-division semantics match
    DuckDB's mirrored floor() textually (the engine's `DIV`-vs-`//`
    negative-truncation trap never arises). No float survives to the
    output.

    Scale shape: groupBy(event_type) -> array_sort(collect_list) ->
    F.aggregate fold. Per-group state is the #days calendar grain
    (30 here), not the row count — the same bounded-frame contract as
    the rollup windows; the day-grain pre-aggregate is the only
    full-data shuffle."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("etype"), F.to_date("ts").alias("day")
    ).agg((F.count(F.lit(1)) * F.lit(1000000)).cast("bigint").alias("ym"))
    folded = daily.groupBy("etype").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("day", "ym"))),
            F.struct(
                F.lit(0).cast("bigint").alias("n"),
                F.lit(0).cast("bigint").alias("l"),
                F.lit(0).cast("bigint").alias("b"),
            ),
            lambda st, e: F.when(
                st["n"] == 0,
                F.struct(
                    F.lit(1).cast("bigint").alias("n"),
                    e["ym"].alias("l"),
                    F.lit(0).cast("bigint").alias("b"),
                ),
            ).otherwise(
                F.struct(
                    (st["n"] + 1).alias("n"),
                    F.floor(
                        (e["ym"] + st["l"] + st["b"]).cast("double") / 2.0
                    )
                    .cast("bigint")
                    .alias("l"),
                    F.floor(
                        (
                            3
                            * (
                                F.floor(
                                    (e["ym"] + st["l"] + st["b"]).cast(
                                        "double"
                                    )
                                    / 2.0
                                ).cast("bigint")
                                - st["l"]
                            )
                            + 7 * st["b"]
                        ).cast("double")
                        / 10.0
                    )
                    .cast("bigint")
                    .alias("b"),
                )
            ),
        ).alias("st")
    )
    return folded.select(
        "etype",
        F.col("st.n").alias("n_days"),
        F.col("st.l").alias("level_micro"),
        F.col("st.b").alias("trend_micro"),
        (F.col("st.l") + 7 * F.col("st.b")).cast("bigint").alias(
            "forecast_7d_micro"
        ),
    )


ORACLE_HOLT = """
WITH RECURSIVE daily AS (
  SELECT event_type AS etype, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) * 1000000 AS BIGINT) AS ym
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT etype, ym,
         ROW_NUMBER() OVER (PARTITION BY etype ORDER BY day) AS rn
  FROM daily
), fold AS (
  SELECT etype, CAST(1 AS BIGINT) AS n, ym AS l, CAST(0 AS BIGINT) AS b
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT f.etype, f.n + 1,
         CAST(floor(CAST(s.ym + f.l + f.b AS DOUBLE) / 2.0) AS BIGINT),
         CAST(floor(CAST(3 * (CAST(floor(CAST(s.ym + f.l + f.b AS DOUBLE)
                                     / 2.0) AS BIGINT) - f.l)
                          + 7 * f.b AS DOUBLE) / 10.0) AS BIGINT)
  FROM fold f JOIN seq s ON s.etype = f.etype AND s.rn = f.n + 1
), final AS (
  SELECT etype, n, l, b,
         ROW_NUMBER() OVER (PARTITION BY etype ORDER BY n DESC) AS pick
  FROM fold
)
SELECT etype, n AS n_days, l AS level_micro, b AS trend_micro,
       CAST(l + 7 * b AS BIGINT) AS forecast_7d_micro
FROM final WHERE pick = 1
"""


# --------------------------------------------------------------------------
# Month-over-month customer-segment transition matrix
# --------------------------------------------------------------------------


def q_segment_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style transition matrix between customer spend segments
    in consecutive months: segment each (customer, month) by fixed
    spend thresholds (LOW < $2k <= MID < $10k <= HIGH — policy
    constants, not data-dependent quantiles, so the label function is
    stable under scale-up), then count month-over-month transitions
    and row-normalize. The churn-dashboard companion to
    `cohort_retention` (which tracks presence, not movement).

    Scale shape: one shuffle to (customer, month) grain, one
    self-equi-join on (customer, month+1) — both hash joins on
    fact-scaled frames, no window at the customer grain."""
    orders = _t(spark, sf_dir, "orders")
    seg = (
        orders.groupBy(
            F.col("o_custkey").alias("cust"),
            F.trunc(F.to_date("o_orderdate"), "MM").alias("month"),
        )
        .agg(F.sum(_cents()).cast("bigint").alias("cents"))
        .select(
            "cust",
            "month",
            F.when(F.col("cents") < 200000, "LOW")
            .when(F.col("cents") < 1000000, "MID")
            .otherwise("HIGH")
            .alias("seg"),
        )
    )
    nxt = seg.select(
        "cust",
        F.add_months(F.col("month"), -1).alias("month"),
        F.col("seg").alias("seg_next"),
    )
    trans = seg.join(nxt, ["cust", "month"]).groupBy(
        F.col("seg").alias("seg_from"), F.col("seg_next").alias("seg_to")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = Window.partitionBy("seg_from")
    return trans.select(
        "seg_from",
        "seg_to",
        "n",
        # raw final (round-7 sweep): one quotient of exact bigints
        (
            F.col("n").cast("double")
            / F.sum("n").over(tot).cast("double")
        ).alias("p"),
    )


ORACLE_SEGMENT_TRANSITIONS = f"""
WITH seg AS (
  SELECT o_custkey AS cust, date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CASE WHEN SUM({_CENTS}) < 200000 THEN 'LOW'
              WHEN SUM({_CENTS}) < 1000000 THEN 'MID'
              ELSE 'HIGH' END AS seg
  FROM orders GROUP BY 1, 2
), trans AS (
  SELECT a.seg AS seg_from, b.seg AS seg_to,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seg a JOIN seg b
    ON a.cust = b.cust AND b.month = a.month + INTERVAL 1 MONTH
  GROUP BY 1, 2
)
SELECT seg_from, seg_to, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY seg_from)
                                      AS DOUBLE) AS p
FROM trans
"""


# --------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# --------------------------------------------------------------------------


def q_attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each
    purchase distributes 10,000 basis points over the user's
    click/view touches in the preceding hour — 40% to the first
    touch, 40% to the last, 20% largest-remainder-split over the
    middles (1 touch: 100%; 2 touches: 50/50 — the standard U-shape
    degenerations). Completes the attribution family: last-touch
    (`attribution_last_touch`), Shapley (`shapley_attribution`), and
    now position-based — all integer-exact, so per-conversion credit
    sums to exactly 10,000 by construction.

    Scale shape: purchases x touches meet on the USER equi key (hash
    join), the 1-hour window is a post-join filter — the scd2 lookup
    contract, per-user fan-out bounded by session activity. Position
    ranks are windows keyed on the conversion id."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("cts"),
    )
    j = p.join(c, "user_id").filter(
        (F.col("cts") < F.col("pts"))
        & (
            F.col("cts")
            >= F.col("pts") - F.expr("INTERVAL 1 HOUR")
        )
    )
    wasc = Window.partitionBy("conv_id").orderBy(
        F.col("cts").asc(), F.col("touch_id").asc()
    )
    ranked = j.select(
        "conv_id",
        "channel",
        F.row_number().over(wasc).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("conv_id")).alias("cnt"),
    )
    mid = F.col("cnt") - 2  # middles when cnt > 2
    credit = (
        F.when(F.col("cnt") == 1, F.lit(10000))
        .when(F.col("cnt") == 2, F.lit(5000))
        .when(F.col("rn") == 1, F.lit(4000))
        .when(F.col("rn") == F.col("cnt"), F.lit(4000))
        .otherwise(
            F.expr("2000 DIV (cnt - 2)")
            + F.when(
                F.col("rn") - 2 < F.lit(2000) % mid, F.lit(1)
            ).otherwise(F.lit(0))
        )
    )
    pos = (
        F.when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("cnt"), "last")
        .otherwise("middle")
    )
    return (
        ranked.select(
            "channel", pos.alias("position"), credit.alias("bp")
        )
        .groupBy("channel", "position")
        .agg(
            F.sum("bp").cast("bigint").alias("credit_bp"),
            F.count(F.lit(1)).cast("bigint").alias("touches"),
        )
    )


ORACLE_ATTRIB_POSITION = """
WITH p AS (
  SELECT event_id AS conv_id, user_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS touch_id, user_id, event_type AS channel, ts AS cts
  FROM events WHERE event_type IN ('click', 'view')
), j AS (
  SELECT conv_id, channel, cts, touch_id
  FROM p JOIN c USING (user_id)
  WHERE cts < pts AND cts >= pts - INTERVAL 1 HOUR
), ranked AS (
  SELECT conv_id, channel,
         ROW_NUMBER() OVER (PARTITION BY conv_id
           ORDER BY cts ASC, touch_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY conv_id) AS cnt
  FROM j
), credited AS (
  SELECT channel,
         CASE WHEN rn = 1 THEN 'first'
              WHEN rn = cnt THEN 'last'
              ELSE 'middle' END AS position,
         CASE WHEN cnt = 1 THEN 10000
              WHEN cnt = 2 THEN 5000
              WHEN rn = 1 THEN 4000
              WHEN rn = cnt THEN 4000
              ELSE CAST(2000 // (cnt - 2) AS BIGINT)
                   + CASE WHEN rn - 2 < 2000 % (cnt - 2)
                          THEN 1 ELSE 0 END
         END AS bp
  FROM ranked
)
SELECT channel, position,
       CAST(SUM(bp) AS BIGINT) AS credit_bp,
       CAST(COUNT(*) AS BIGINT) AS touches
FROM credited GROUP BY 1, 2
"""


REGISTRY_DECISION.update(
    {
        "welch_t_test": (q_welch_t_test, ORACLE_WELCH),
        "max_drawdown": (q_max_drawdown, ORACLE_DRAWDOWN),
        "rank_biased_overlap": (q_rank_biased_overlap, ORACLE_RBO),
        "revenue_recognition": (q_revenue_recognition, ORACLE_REV_REC),
        "item_jaccard": (q_item_jaccard, ORACLE_ITEM_JACCARD),
        "ucb1_allocation": (q_ucb1_allocation, ORACLE_UCB1),
        "holt_linear_trend": (q_holt_linear_trend, ORACLE_HOLT),
        "segment_transition_matrix": (
            q_segment_transition_matrix,
            ORACLE_SEGMENT_TRANSITIONS,
        ),
        "attribution_position_based": (
            q_attribution_position_based,
            ORACLE_ATTRIB_POSITION,
        ),
    }
)
