"""Round-3 advanced operator surface: skyline (Pareto frontier),
sparse TF-IDF cosine all-pairs, Fellegi-Sunter record linkage, and
Efraimidis-Spirakis weighted sampling — each an operator class the
reference's pandas pipeline (and stock Spark) has no primitive for,
re-expressed as compositions of shuffles/joins Catalyst plans, with
cell-exact DuckDB oracles.

Determinism notes are per-query; the shared rules are the engine
playbook ones (decimal-exact accumulation, literal log-weights,
round(libm, 6) before any ordering, md5 coins)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quantize import q6, q6_sql

from ..operators.linkage import FieldSpec, agreement_pattern_counts, fs_classify, fs_score
from ..operators.ranking import global_topk
from ..operators.sampling import weighted_sample_topk
from ..operators.skyline import skyline_2d
from ..operators.text import sparse_cosine_pairs
from .testdata_queries import _t


# --------------------------------------------------------------------------
# Skyline / Pareto frontier
# --------------------------------------------------------------------------


def q_skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal customers on (total revenue, order count): no
    other customer is ≥ on both axes and > on one — the multi-criteria
    "best tradeoffs" query (operators/skyline.py, grid-pruned exact
    2-D skyline: bucket window + two broadcast bounds, no global
    window, no nested loop). DuckDB verifies with the NOT EXISTS
    dominance definition directly."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(cents).alias("rev_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    return skyline_2d(per_cust, "rev_cents", "n_orders").orderBy(
        F.desc("rev_cents")
    )


ORACLE_SKYLINE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
), pts AS (SELECT DISTINCT rev_cents, n_orders FROM per_cust)
SELECT rev_cents, n_orders FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.rev_cents >= p.rev_cents AND q.n_orders >= p.n_orders
    AND (q.rev_cents > p.rev_cents OR q.n_orders > p.n_orders)
)
"""


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine all-pairs
# --------------------------------------------------------------------------


def q_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most-similar document pairs by TF-IDF cosine via the
    inverted-index join (operators/text.py::sparse_cosine_pairs) —
    near-dup by topical similarity, the sparse-vector sibling of
    MinHash. The synthetic corpus has a 31-word vocabulary, so no df
    cap applies here (every term would exceed any useful cap); on a
    real corpus ``max_df`` bounds the posting-list join fan-out — the
    documented scale knob. Decimal-exact dot products, IEEE-stable
    final round; total order (cosine desc, id_a, id_b)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = sparse_cosine_pairs(docs, "doc_id", "text", threshold=0.5)
    return global_topk(
        pairs, [F.desc("cosine"), F.asc("id_a"), F.asc("id_b")], 25
    ).select("rank", "id_a", "id_b", "cosine")


ORACLE_SPARSE_COSINE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
w AS (
  SELECT doc_id, term,
         CAST(tf AS DECIMAL(5,0))
         * CAST(CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
                           * 1e6) AS DECIMAL(19,0))
                * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(12,6)) AS w
  FROM tf JOIN dfreq USING (term), nd
), norms AS (
  SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS norm
  FROM w GROUP BY 1
), num AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.w * b.w) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cos AS (
  SELECT id_a, id_b, dot / (na.norm * nb.norm) AS cosine
  FROM num
  JOIN norms na ON na.doc_id = id_a
  JOIN norms nb ON nb.doc_id = id_b
), thr AS (SELECT * FROM cos WHERE cosine >= 0.5)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, id_a ASC, id_b ASC) AS BIGINT) AS rank,
       id_a, id_b, cosine
FROM thr ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 25
"""


# --------------------------------------------------------------------------
# Fellegi-Sunter record linkage
# --------------------------------------------------------------------------

# (m, u) priors per field and the derived literal log2 weights —
# FieldSpec computes them once in Python, and _FS_SQL_WEIGHTS injects
# the IDENTICAL literals into the oracle, so no engine evaluates a
# log per row.
_FS_PARAMS = {
    "name": (0.95, 0.002),
    "nation": (0.90, 0.04),
    "segment": (0.95, 0.20),
    "balance": (0.85, 0.001),
}


def _fs_fields() -> list[FieldSpec]:
    return [
        FieldSpec(
            "name",
            # thresholded levenshtein (Spark ≥3.5): band-limits the DP
            # to O(len·k) and early-outs on length mismatch, returning
            # -1 past the bound — .between(0, 1) is therefore exactly
            # `distance <= 1` (parity-checked: 0 mismatches over the
            # 7.5M-pair 10× probe frame; the oracle's unbounded
            # levenshtein(a,b) <= 1 is untouched). ~1.8× on the
            # dominating per-pair term.
            F.levenshtein(F.col("a_name"), F.col("b_name"), 1).between(0, 1),
            *_FS_PARAMS["name"],
        ),
        FieldSpec(
            "nation", F.col("a_nat") == F.col("b_nat"), *_FS_PARAMS["nation"]
        ),
        FieldSpec(
            "segment", F.col("a_seg") == F.col("b_seg"), *_FS_PARAMS["segment"]
        ),
        FieldSpec(
            "balance",
            F.abs(F.col("a_bal") - F.col("b_bal")) < 0.5,
            *_FS_PARAMS["balance"],
        ),
    ]


def _fs_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean registry A (customers) × deterministically-corrupted
    registry B (same customers re-keyed +10M; name/nation/balance
    perturbed by custkey-derived rules so truth is known), blocked on
    custkey DIV 50 — candidates are block-local equi-join pairs, never
    the cross product. All corruption is integer/binary-exact
    arithmetic, so the oracle rebuilds registry B bit-identically."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    a = cust.select(
        k.alias("a_id"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nat"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("c_acctbal").alias("a_bal"),
        (k - (k % 50)).alias("block"),
    )
    b = cust.select(
        (k + 10_000_000).alias("b_id"),
        F.when(
            k % 3 == 0,
            F.concat(F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("X")),
        )
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.when(k % 7 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .alias("b_nat"),
        F.col("c_mktsegment").alias("b_seg"),
        # +0.25 steps: exact in binary, so the double compare is stable
        (F.col("c_acctbal") + (k % 5).cast("double") * 0.25).alias("b_bal"),
        (k - (k % 50)).alias("block"),
    )
    # explicit-N repartition on the blocking key: the join INPUTS are
    # narrow (a few MB of shuffle at the probe's 100× point), so
    # AQE's size-based coalescing folds them into 1-3 post-shuffle
    # partitions — but every input row explodes into 50 candidate
    # pairs that then pay a per-pair levenshtein, so the cheap-input/
    # expensive-output join ran effectively serial (measured: the 10×
    # point scored 7.5M pairs on ONE task). A user-specified
    # partition count is exempt from AQE coalescing, and the join
    # co-partitions the B side to match, so scoring fans out across
    # the cluster. defaultParallelism scales with the executor count
    # — the same fix shape as stats_queries' group-probe repartition.
    n_part = spark.sparkContext.defaultParallelism
    return a.repartition(n_part, "block").join(b, "block")


def q_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage over blocked candidate pairs: per-field
    agreement → literal log2(m/u) weights → summed score → classify
    against (0, 10) thresholds. Top-25 by (score desc, a_id, b_id).
    Scoring is a pure projection over the candidates — the shuffles
    are all in the blocking."""
    pairs = _fs_candidate_pairs(spark, sf_dir)
    score = fs_score(_fs_fields())
    scored = pairs.select(
        "a_id",
        "b_id",
        score.alias("score"),
        fs_classify(score, 0.0, 10.0).alias("verdict"),
    )
    return global_topk(
        scored, [F.desc("score"), F.asc("a_id"), F.asc("b_id")], 25
    ).select("rank", "a_id", "b_id", "score", "verdict")


def q_linkage_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement-pattern histogram over the same candidate pairs — the
    2^|fields|-row sufficient statistic an EM fit of the FS m/u
    parameters consumes. One groupBy over four booleans."""
    pairs = _fs_candidate_pairs(spark, sf_dir)
    return agreement_pattern_counts(pairs, _fs_fields())


def _fs_sql_common() -> str:
    import math

    # identical literal weights to FieldSpec's (same formula, same
    # round) — computed without Column objects so the oracle string
    # can build at import time, before any SparkContext exists
    w = {
        name: (
            round(math.log2(m / u), 6),
            round(math.log2((1 - m) / (1 - u)), 6),
        )
        for name, (m, u) in _FS_PARAMS.items()
    }
    return f"""
WITH a AS (
  SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS a_nat,
         c_mktsegment AS a_seg, c_acctbal AS a_bal,
         c_custkey - (c_custkey % 50) AS block
  FROM customer
), b AS (
  SELECT c_custkey + 10000000 AS b_id,
         CASE WHEN c_custkey % 3 = 0
              THEN substring(c_name, 1, length(c_name) - 1) || 'X'
              ELSE c_name END AS b_name,
         CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS b_nat,
         c_mktsegment AS b_seg,
         c_acctbal + CAST(c_custkey % 5 AS DOUBLE) * 0.25 AS b_bal,
         c_custkey - (c_custkey % 50) AS block
  FROM customer
), pairs AS (
  SELECT a.*, b.* EXCLUDE (block) FROM a JOIN b USING (block)
), agreed AS (
  SELECT a_id, b_id,
         (levenshtein(a_name, b_name) <= 1) AS agree_name,
         (a_nat = b_nat) AS agree_nation,
         (a_seg = b_seg) AS agree_segment,
         (abs(a_bal - b_bal) < 0.5) AS agree_balance
  FROM pairs
), scored AS (
  SELECT a_id, b_id, agree_name, agree_nation, agree_segment, agree_balance,
         CAST(
           (CASE WHEN agree_name THEN {w['name'][0]} ELSE {w['name'][1]} END)
         + (CASE WHEN agree_nation THEN {w['nation'][0]} ELSE {w['nation'][1]} END)
         + (CASE WHEN agree_segment THEN {w['segment'][0]} ELSE {w['segment'][1]} END)
         + (CASE WHEN agree_balance THEN {w['balance'][0]} ELSE {w['balance'][1]} END)
         AS DOUBLE) AS score
  FROM agreed
)
"""


ORACLE_LINKAGE_SCORES = (
    _fs_sql_common()
    + """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, a_id ASC, b_id ASC) AS BIGINT) AS rank,
       a_id, b_id, score,
       CASE WHEN score >= 10.0 THEN 'match'
            WHEN score > 0.0 THEN 'possible'
            ELSE 'non_match' END AS verdict
FROM scored ORDER BY score DESC, a_id ASC, b_id ASC LIMIT 25
"""
)

ORACLE_LINKAGE_PATTERNS = (
    _fs_sql_common()
    + """
SELECT agree_name, agree_nation, agree_segment, agree_balance,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM scored GROUP BY 1, 2, 3, 4
"""
)


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis)
# --------------------------------------------------------------------------


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-doc weighted sample without replacement, weight = n_chars
    (longer docs proportionally likelier) — E-S keys on the md5 coin,
    so the sample is a reproducible artifact of the corpus, not of a
    seed or partitioning (operators/sampling.py::weighted_sample_topk)."""
    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, "doc_id", "n_chars", 20).select(
        "rank", "doc_id", "lang", "n_chars"
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
), mx AS (
  SELECT MAX(CAST(n_chars AS DOUBLE)) AS es_mx FROM base
), keyed AS (
  SELECT doc_id, lang, n_chars,
         CASE WHEN abs(CAST((
           ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0)
              / 4294967296.0)
           * (mx.es_mx / CAST(n_chars AS DOUBLE))) AS DOUBLE) * 1e6) < 9007199254740992.0
         THEN floor(CAST((
           ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0)
              / 4294967296.0)
           * (mx.es_mx / CAST(n_chars AS DOUBLE))) AS DOUBLE) * 1e6) / 1e6
         ELSE CAST((
           ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 1.0)
              / 4294967296.0)
           * (mx.es_mx / CAST(n_chars AS DOUBLE))) AS DOUBLE) END AS es_key
  FROM base, mx
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, lang, n_chars
FROM keyed ORDER BY es_key DESC, doc_id ASC LIMIT 20
"""


REGISTRY_ADV: dict = {
    "skyline_customers": (q_skyline_customers, ORACLE_SKYLINE),
    "sparse_cosine_topk": (q_sparse_cosine_topk, ORACLE_SPARSE_COSINE),
    "record_linkage_scores": (q_record_linkage_scores, ORACLE_LINKAGE_SCORES),
    "linkage_pattern_counts": (q_linkage_pattern_counts, ORACLE_LINKAGE_PATTERNS),
    "weighted_sample_docs": (q_weighted_sample_docs, ORACLE_WEIGHTED_SAMPLE),
}


# --------------------------------------------------------------------------
# Attribution, correlation, interpolated percentiles, bitemporal
# --------------------------------------------------------------------------


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credited to the
    user's most recent CLICK within a 1-hour window — the as-of join
    with ``tolerance_seconds`` (pandas merge_asof parity), so an
    out-of-window click yields NULL credit rather than stale
    attribution. seq tiebreak + max-collapsed oracle clicks keep
    equal-timestamp behavior engine-identical."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "ts"],
        seq_col="event_id",
        suffix="_click",
        tolerance_seconds=3600,
    )
    secs = F.floor(
        F.unix_timestamp("ts") - F.unix_timestamp("ts_click")
    ).cast("bigint")
    return out.select(
        "event_id", "user_id", "ts",
        F.col("event_id_click").alias("click_id"),
        secs.alias("secs_since_click"),
    )


ORACLE_ATTRIBUTION = """
WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                  MAX(event_id) AS event_id
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
     m AS (
       SELECT p.event_id, p.user_id, p.ts,
              c.ts AS c_ts, c.event_id AS c_id
       FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
     )
SELECT event_id, user_id, ts,
       CASE WHEN c_ts IS NOT NULL
                  AND epoch_us(ts) - epoch_us(c_ts) <= 3600000000
            THEN c_id END AS click_id,
       CASE WHEN c_ts IS NOT NULL
                  AND epoch_us(ts) - epoch_us(c_ts) <= 3600000000
            THEN CAST(floor(epoch(ts)) - floor(epoch(c_ts)) AS BIGINT)
       END AS secs_since_click
FROM m
"""


def q_pearson_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between customer revenue and order count
    from EXACT decimal sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy² — all scale-0 decimals, so partial aggregation is exact and
    order-free); r materializes with two sqrt and one division, IEEE-
    identical in any engine. The one-pass sufficient-statistics shape
    is THE distributed correlation pattern — never a centered
    two-pass."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(cents).alias("x"), F.count(F.lit(1)).alias("y")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = per_cust.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * d("y")).alias("sxy"),
        F.sum(d("x") * d("x")).alias("sxx"),
        F.sum(d("y") * d("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return stats.select(
        F.col("n").cast("bigint").alias("n_customers"),
        # try_divide: a degenerate corpus (one customer, or constant
        # x/y) has a zero variance term; ANSI raises where the oracle
        # yields NULL
        # q6 (round-7 sweep): the 38-digit carriers cast to double
        # past 2^53 unscaled where DECIMAL->DOUBLE is not correctly-
        # rounded identically across engines — q6 absorbs that
        q6(
            F.try_divide(num, F.sqrt(dx) * F.sqrt(dy))
        ).alias("r_rev_orders"),
    )


ORACLE_PEARSON = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x,
         COUNT(*) AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
  FROM per_cust
)
SELECT CAST(n AS BIGINT) AS n_customers,
       {q6_sql('''CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))''')} AS r_rev_orders
FROM s
"""


def q_percentile_cont_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT(0.5), (0.9) per order priority, the
    linear-interpolation definition, distributed: rank within group
    (value order — ties can rank either way, the k-th VALUE is
    invariant), pick the two straddling ranks with integer arithmetic
    (lo = (n−1)·p_num DIV p_den, exact), and interpolate in scaled
    integers — vlo·den + (vhi−vlo)·rem stays BIGINT-exact; the single
    division is the only IEEE op. DuckDB mirrors the construction
    (and it equals quantile_cont by definition)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    vals = orders.select(
        F.col("o_orderpriority").alias("priority"), cents.alias("v")
    )
    # ROUND-8 REWRITE, at the VALUE grain (the median_by_group fix):
    # the row-grain row_number window sorted every fact row inside k
    # single-task partitions — this was SCALE.md's "slowest riser".
    # Aggregating to (priority, DISTINCT cents) first bounds the
    # window input by the price domain at any corpus size; the value
    # whose cumulative-count range covers rank r IS the value at rank
    # r, so the straddling-rank lookups (and the output) are
    # unchanged and the oracle stays as-is.
    gv = vals.groupBy("priority", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wcum = Window.partitionBy("priority").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    j = gv.select(
        "priority",
        "v",
        "c",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
        F.sum("c").over(Window.partitionBy("priority"))
        .cast("bigint")
        .alias("n"),
    )

    def _val_at(rank):
        return F.max(
            F.when(
                (F.col("cum") >= rank)
                & (F.col("cum") - F.col("c") < rank),
                F.col("v"),
            )
        )

    def pct(pnum: int, pden: int, name: str):
        lo = F.expr(f"(n - 1) * {pnum} DIV {pden}")
        rem = ((F.col("n") - 1) * pnum) % pden
        vlo = _val_at(lo + 1)
        vhi = _val_at(lo + 2)
        scaled = vlo * pden + (F.coalesce(vhi, vlo) - vlo) * F.max(rem)
        # raw (round-7 sweep): one quotient of exact integers
        return (scaled.cast("double") / pden).alias(name)

    return (
        j.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            pct(1, 2, "p50_cents"),
            pct(9, 10, "p90_cents"),
        )
        .orderBy("priority")
    )


ORACLE_PCTL_CONT = """
WITH vals AS (
  SELECT o_orderpriority AS priority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM orders
), ranked AS (
  SELECT priority, v,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY priority) AS n
  FROM vals
), agg AS (
  SELECT priority, MAX(n) AS n,
         MAX(CASE WHEN rn = ((n - 1) * 1 // 2) + 1 THEN v END) AS v50lo,
         MAX(CASE WHEN rn = ((n - 1) * 1 // 2) + 2 THEN v END) AS v50hi,
         MAX(((n - 1) * 1) % 2) AS rem50,
         MAX(CASE WHEN rn = ((n - 1) * 9 // 10) + 1 THEN v END) AS v90lo,
         MAX(CASE WHEN rn = ((n - 1) * 9 // 10) + 2 THEN v END) AS v90hi,
         MAX(((n - 1) * 9) % 10) AS rem90
  FROM ranked GROUP BY priority
)
SELECT priority, CAST(n AS BIGINT) AS n_orders,
       CAST(v50lo * 2 + (COALESCE(v50hi, v50lo) - v50lo) * rem50 AS DOUBLE) / 2 AS p50_cents,
       CAST(v90lo * 10 + (COALESCE(v90hi, v90lo) - v90lo) * rem90 AS DOUBLE) / 10 AS p90_cents
FROM agg ORDER BY priority
"""


def q_bitemporal_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of: each purchase enriched with the state version
    with the greatest VALID time among versions already LOADED at the
    purchase instant (tx_ts = valid_ts + (event_id % 3) hours — a
    deterministic late-arrival model, so a correction landing after
    the purchase is invisible to it, exactly the audited-warehouse
    contract). One window pass over greatest(valid, tx) — see
    operators/scd.py::bitemporal_lookup."""
    from ..operators.scd import bitemporal_lookup

    ev = _t(spark, sf_dir, "events")
    states = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_ts"),
        (F.col("ts") + F.make_interval(hours=(F.col("event_id") % 3).cast("int"))).alias("tx_ts"),
        "event_id",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return bitemporal_lookup(
        purchases,
        states,
        key="user_id",
        fact_ts="ts",
        valid_ts="valid_ts",
        tx_ts="tx_ts",
        value_cols=["state"],
        seq_col="event_id",
    ).select(
        "event_id", "user_id", "ts",
        F.col("state_at").alias("state"),
        F.col("valid_from_at").alias("state_since"),
    )


ORACLE_BITEMPORAL = """
WITH st AS (
  SELECT user_id, event_type AS state, CAST(ts AS TIMESTAMP) AS valid_ts,
         CAST(ts AS TIMESTAMP) + to_hours(event_id % 3) AS tx_ts,
         event_id
  FROM events WHERE event_type IN ('view', 'click', 'signup')
), p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), vis AS (
  SELECT p.event_id, p.user_id, p.ts, s.state,
         s.valid_ts AS state_since,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY s.valid_ts DESC NULLS LAST,
                                     s.event_id DESC NULLS LAST) AS rn
  FROM p LEFT JOIN st s
    ON s.user_id = p.user_id
   AND s.valid_ts <= p.ts AND s.tx_ts <= p.ts
)
SELECT event_id, user_id, ts, state, state_since FROM vis WHERE rn = 1
"""


REGISTRY_ADV.update(
    {
        "attribution_last_touch": (q_attribution_last_touch, ORACLE_ATTRIBUTION),
        "pearson_correlation": (q_pearson_correlation, ORACLE_PEARSON),
        "percentile_cont_by_group": (q_percentile_cont_by_group, ORACLE_PCTL_CONT),
        "bitemporal_state_lookup": (q_bitemporal_state_lookup, ORACLE_BITEMPORAL),
    }
)


# --------------------------------------------------------------------------
# Capped running balance, rolling median, cohort LTV, frequent triples
# --------------------------------------------------------------------------


def q_capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user loyalty-points balance floored at zero: purchases earn
    value·100 cents, clicks spend the same, and the balance never goes
    negative — the textbook "sequential" op (b_n = max(0, b_{n-1} +
    d_n)) that looks like it needs a per-row loop. It doesn't: with
    S_n the plain prefix sum, the one-sided floor has the closed form
    b_n = S_n − least(0, min_{k≤n} S_k), so the whole thing is TWO
    stacked per-user windows (running sum, running min) — exact
    BIGINT arithmetic, fully declarative, no mapInPandas/recursion,
    and the same two windows run in DuckDB. Per-user windows are
    bounded by per-user history (the sessionization scale argument)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    # ROUND to INTEGER (d=0) is engine-unambiguous — both engines
    # see the same double and ties are exact halves (round-7 sweep
    # retired only the d>0 float-scaling ambiguity class)
    cents = F.round(F.col("value") * 100).cast("bigint")
    flows = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("delta_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = F.sum("delta_cents").over(w)
    balanced = flows.select(
        "user_id", "ts", "event_id", "delta_cents", s.alias("__s")
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return balanced.select(
        "user_id",
        "ts",
        "event_id",
        "delta_cents",
        (F.col("__s") - F.least(F.lit(0), F.min("__s").over(w2)))
        .cast("bigint")
        .alias("balance_cents"),
    )


ORACLE_CAPPED_BALANCE = """
WITH flows AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE -CAST(round(value * 100) AS BIGINT) END AS delta_cents
  FROM events WHERE event_type IN ('purchase', 'click')
), s AS (
  SELECT *, SUM(delta_cents) OVER w AS run_sum
  FROM flows
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, ts, event_id, delta_cents,
       CAST(run_sum - LEAST(0, MIN(run_sum) OVER w2) AS BIGINT) AS balance_cents
FROM s
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling MEDIAN of daily revenue over the trailing 7
    CALENDAR days per priority — rank windows can't express a moving
    median, so the frame is materialized by the bounded 0..6 lag
    fan-out (the EWMA/stickiness shape: explode + hash equi-join on
    the landed day, never a range join) and each ≤7-value frame
    collapses via sort_array + lower-median element_at — O(1) per
    frame, engine-exact integers throughout."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(cents).alias("c"))
    spine = daily.select("priority", "day").distinct()
    fan = daily.select(
        "priority",
        F.col("c"),
        F.col("day").alias("src_day"),
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("lag"),
    ).withColumn("day", F.date_add(F.col("src_day"), F.col("lag")))
    j = fan.join(spine, ["priority", "day"])
    vals = F.sort_array(F.collect_list("c"))
    n = F.size(vals)
    return (
        j.groupBy("priority", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.element_at(vals, ((n + 1) / 2).cast("int")).alias("med_cents"),
        )
    )


ORACLE_ROLLING_MEDIAN = """
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), fan AS (
  SELECT d.priority, d.c, d.day + CAST(g.lag AS INT) AS day
  FROM daily d, (SELECT unnest(range(0, 7)) AS lag) g
), j AS (
  SELECT f.priority, f.day, f.c
  FROM fan f JOIN (SELECT DISTINCT priority, day FROM daily) s
    ON f.priority = s.priority AND f.day = s.day
)
SELECT priority, day, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(list_sort(list(c))[CAST(floor((COUNT(*) + 1) / 2) AS INT)] AS BIGINT)
         AS med_cents
FROM j GROUP BY 1, 2
"""


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users grouped by first-purchase month, each
    cohort's CUMULATIVE revenue by cohort age in months — the growth
    analysis behind every retention dashboard. Cohorting is one
    per-customer min over ORDERS (multi-year span, unlike the
    one-month event stream); the cumsum window runs over the
    (cohort × age) aggregate — bounded by #months², never
    customer-scaled."""
    orders = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    p = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.to_date("o_orderdate").alias("od"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    first = p.groupBy("user_id").agg(
        F.min(F.trunc("od", "month")).alias("cohort_month")
    )
    j = p.join(first, "user_id").withColumn(
        "age_months",
        (
            (F.year("od") - F.year("cohort_month")) * 12
            + (F.month("od") - F.month("cohort_month"))
        ).cast("bigint"),
    )
    grid = j.groupBy("cohort_month", "age_months").agg(
        F.sum("cents").cast("bigint").alias("rev_cents"),
        F.count_distinct("user_id").cast("bigint").alias("active_users"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        "cohort_month",
        "age_months",
        "rev_cents",
        "active_users",
        F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
    )


ORACLE_COHORT_LTV = """
WITH p AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS od,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), first AS (
  SELECT user_id, MIN(date_trunc('month', od)) AS cohort_month
  FROM p GROUP BY 1
), j AS (
  SELECT p.user_id, p.cents,
         CAST(f.cohort_month AS DATE) AS cohort_month,
         CAST((year(p.od) - year(f.cohort_month)) * 12
              + (month(p.od) - month(f.cohort_month)) AS BIGINT) AS age_months
  FROM p JOIN first f USING (user_id)
), grid AS (
  SELECT cohort_month, age_months,
         CAST(SUM(cents) AS BIGINT) AS rev_cents,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
  FROM j GROUP BY 1, 2
)
SELECT cohort_month, age_months, rev_cents, active_users,
       CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month ORDER BY age_months
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents
FROM grid
"""


def q_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (Apriori level 3): parts co-occurring in ≥2
    orders as a TRIPLE, grown from the frequent-pair lattice — the
    candidate triple (u,v,w) joins frequent pairs (u,v) and (v,w)
    before ever touching the baskets (the Apriori prune: any frequent
    triple's sub-pairs are frequent), so the basket-scaled work is one
    semi-join per candidate edge, never Σk³ per basket. Output: the
    triples with their support.

    Every join that touches the basket-scaled (order, part) frame is
    pinned MERGE: its sides are the same frame by construction, so a
    broadcast can never be right — Catalyst's static estimate
    undershoots the distinct output and dies in
    notEnoughMemoryToBuildAndBroadcastTable at 100× (measured by the
    scale probe; the same failure copurchase_pairs hit in round 2)."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().hint("merge")
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
        .hint("merge")  # the pair lattice self-joins below: same rule
    ).cache()
    # cache, not localCheckpoint: lost checkpoint blocks cannot be
    # recomputed (lineage cut, measured at the 1000x minhash probe);
    # lifetime is battery-owned (selfcheck/bench clearCache per query)
    # Apriori candidates: (u,v) + (v,w) with u < v < w, then require
    # the closing pair (u,w) frequent too
    uv, vw = pairs.alias("uv"), pairs.alias("vw")
    uw = pairs.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    cand = (
        uv.join(vw, F.col("uv.v") == F.col("vw.u"))
        .select(
            F.col("uv.u").alias("u"), F.col("uv.v").alias("v"),
            F.col("vw.v").alias("w"),
        )
        .join(
            uw,
            (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
            "left_semi",
        )
    )
    # support: count orders containing all three (three semi-scans of
    # the distinct (order, part) frame, hash-joined on part then order)
    o1 = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u")).hint("merge")
    o2 = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v")).hint("merge")
    o3 = op.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("w")).hint("merge")
    support = (
        cand.join(o1, "u").join(o2, ["o", "v"]).join(o3, ["o", "w"])
        .groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return support


ORACLE_FREQ_TRIPLES = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS u, b.l_partkey AS v, c.l_partkey AS w,
       CAST(COUNT(*) AS BIGINT) AS support
FROM op a
JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
JOIN op c ON b.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
GROUP BY 1, 2, 3
HAVING COUNT(*) >= 2
"""


REGISTRY_ADV.update(
    {
        "capped_running_balance": (q_capped_running_balance, ORACLE_CAPPED_BALANCE),
        "rolling_median_7d": (q_rolling_median_7d, ORACLE_ROLLING_MEDIAN),
        "cohort_ltv": (q_cohort_ltv, ORACLE_COHORT_LTV),
        "frequent_triples": (q_frequent_triples, ORACLE_FREQ_TRIPLES),
    }
)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between early
    (< 1998) and late (≥ 1998) order-value distributions — the
    distribution-drift gate PSI approximates with bins, computed
    bin-free: D = max_x |F1(x) − F2(x)|. The max runs over the
    VALUE-grain aggregate with exact integer cross-products
    (|cumA·nB − cumB·nA|, ties broken to the smallest value), so no
    float ever orders anything; the single division happens once on
    the winning row. Cumulatives come from ``global_prefix_sum`` —
    range-partitioned, never a single-partition window over the
    values."""
    from ..operators.ranking import global_prefix_sum

    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    early = F.year("o_orderdate") < 1998
    grp = orders.groupBy(cents.alias("v")).agg(
        F.sum(F.when(early, 1).otherwise(0)).alias("a"),
        F.sum(F.when(early, 0).otherwise(1)).alias("b"),
    )
    pref = global_prefix_sum(grp, [F.col("v").asc()], "a", alias="pa")
    pref = global_prefix_sum(pref, [F.col("v").asc()], "b", alias="pb")
    totals = grp.agg(
        F.sum("a").cast("bigint").alias("na"), F.sum("b").cast("bigint").alias("nb")
    )
    d = pref.crossJoin(F.broadcast(totals)).select(
        "v", "na", "nb",
        F.abs(
            (F.col("pa") + F.col("a")) * F.col("nb")
            - (F.col("pb") + F.col("b")) * F.col("na")
        ).alias("diff"),
    )
    best = d.groupBy("na", "nb").agg(
        F.max(F.struct(F.col("diff"), (-F.col("v")).alias("negv"))).alias("m")
    )
    return best.select(
        F.col("na").alias("n_early"),
        F.col("nb").alias("n_late"),
        # try_divide: a corpus entirely inside one era has na or nb
        # == 0 — ANSI raises where the oracle yields NULL
        # raw (round-7 sweep): one quotient of exact bigints
        F.try_divide(
            F.col("m.diff").cast("double"),
            (F.col("na") * F.col("nb")).cast("double"),
        ).alias("ks_stat"),
        (-F.col("m.negv")).cast("bigint").alias("at_cents"),
    )


ORACLE_KS = """
WITH vals AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         (year(o_orderdate) < 1998) AS early
  FROM orders
), grp AS (
  SELECT v,
         SUM(CASE WHEN early THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) AS b
  FROM vals GROUP BY 1
), cum AS (
  SELECT v,
         SUM(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM grp
), tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM grp),
d AS (
  SELECT v, na, nb, abs(ca * nb - cb * na) AS diff FROM cum, tot
), best AS (
  SELECT na, nb, diff, v,
         ROW_NUMBER() OVER (ORDER BY diff DESC, v ASC) AS rn
  FROM d
)
SELECT na AS n_early, nb AS n_late,
       CAST(diff AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks_stat,
       CAST(v AS BIGINT) AS at_cents
FROM best WHERE rn = 1
"""


REGISTRY_ADV.update({"ks_drift": (q_ks_drift, ORACLE_KS)})


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting over ordering customers: each active
    (month, customer) classified NEW (first-ever month), RETAINED
    (also active the previous month) or RESURRECTED (active before,
    but not last month) — the standard MAU decomposition. One per-key
    lag window over the (month, customer) distinct frame (bounded by a
    customer's active-month count), then a month-grain rollup."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    mu = (
        orders.select(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month"),
            F.col("o_custkey").alias("c"),
        )
        .distinct()
    )
    w = Window.partitionBy("c").orderBy("month")
    tagged = mu.select(
        "month",
        "c",
        F.lag("month").over(w).alias("prev_month"),
        F.row_number().over(w).alias("rn"),
    )
    cls = (
        F.when(F.col("rn") == 1, F.lit("new"))
        .when(
            F.col("prev_month") == F.add_months(F.col("month"), -1),
            F.lit("retained"),
        )
        .otherwise(F.lit("resurrected"))
    )
    return (
        tagged.groupBy("month")
        .agg(
            F.count(F.when(cls == "new", 1)).cast("bigint").alias("new_users"),
            F.count(F.when(cls == "retained", 1)).cast("bigint").alias("retained_users"),
            F.count(F.when(cls == "resurrected", 1)).cast("bigint").alias("resurrected_users"),
        )
    )


ORACLE_GROWTH = """
WITH mu AS (
  SELECT DISTINCT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         o_custkey AS c
  FROM orders
), tagged AS (
  SELECT month, c,
         LAG(month) OVER (PARTITION BY c ORDER BY month) AS prev_month,
         ROW_NUMBER() OVER (PARTITION BY c ORDER BY month) AS rn
  FROM mu
)
SELECT CAST(month AS DATE) AS month,
       CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS new_users,
       CAST(COUNT(CASE WHEN rn > 1 AND prev_month = month - INTERVAL 1 MONTH THEN 1 END) AS BIGINT) AS retained_users,
       CAST(COUNT(CASE WHEN rn > 1 AND prev_month <> month - INTERVAL 1 MONTH THEN 1 END) AS BIGINT) AS resurrected_users
FROM tagged GROUP BY 1
"""


def q_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lag-k autocorrelation (k = 1, 7) of the daily revenue
    series — the seasonality diagnostic. Pairs come from the bounded
    lag fan-out equi-join on the day spine (never a window shifting
    the whole series through one partition); all sufficient statistics
    are scale-0-decimal exact, one sqrt·sqrt division per lag.
    Definition: r_k = corr(x_t, x_{t+k}) over the aligned pairs (the
    Pearson form on the overlap, which every engine can reproduce
    exactly — unlike the variance-normalized ACF whose mean subtraction
    is float-order-sensitive)."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("c")
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    lagged = daily.select(
        F.col("day"), F.col("c").alias("x")
    )
    # one GROUPED aggregate over a lag-tagged pair union, not one
    # ungrouped agg per lag: an ungrouped agg always emits a row, so a
    # series too short for any lag-k overlap returned (lag, 0, NULL)
    # where the oracle's GROUP BY lag over zero pairs returns no row —
    # grouped, both engines drop pair-less lags identically
    pairs = None
    for k in (1, 7):
        p = (
            lagged.alias("a")
            .join(
                lagged.select(
                    F.date_add(F.col("day"), -k).alias("day"),
                    F.col("x").alias("y"),
                ).alias("b"),
                "day",
            )
            .select(F.lit(k).cast("bigint").alias("lag"), "x", "y")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * d("y")).alias("sxy"),
        F.sum(d("x") * d("x")).alias("sxx"),
        F.sum(d("y") * d("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return stats.select(
        "lag",
        F.col("n").cast("bigint").alias("n_pairs"),
        # try_divide: a single aligned pair has zero variance terms;
        # ANSI raises where the oracle yields NULL
        # q6 (round-7 sweep): same large-decimal-cast class as pearson
        q6(
            F.try_divide(num, F.sqrt(dx) * F.sqrt(dy))
        ).alias("acf"),
    ).orderBy("lag")


ORACLE_ACF = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
), lags AS (SELECT unnest([1, 7]) AS lag),
pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
), s AS (
  SELECT lag, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
         SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
         SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
  FROM pairs GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       {q6_sql('''CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))''')} AS acf
FROM s
"""


REGISTRY_ADV.update(
    {
        "growth_accounting": (q_growth_accounting, ORACLE_GROWTH),
        "daily_autocorrelation": (q_daily_autocorrelation, ORACLE_ACF),
    }
)
