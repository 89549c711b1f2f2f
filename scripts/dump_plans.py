"""Dump `.explain("formatted")` physical plans for registry keys.

Usage:
  python scripts/dump_plans.py > PLANS.md
      PLANS.md: the annotated key queries at sf0.01, local[8].
  python scripts/dump_plans.py <out_dir> <suffix> [key ...]
      Writes <out_dir>/<key>_<suffix>.txt for each key (default: the
      bench HEADLINE list) at $SPARK_GRAFT_SF_DIR (default sf0.1) under
      the bench's session config, so the files match what the bench
      executes. Used for before/after plan evidence (plans/r09, r10).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from music_streaming_etl_spark.plans.registry import REGISTRY  # noqa: E402
from music_streaming_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

COMMENT = {
    "genre_kpis": (
        "Flagship. Both dims broadcast; the genre filter converts the first "
        "left join to inner and pushes IsNotNull into the scan; fused "
        "partial-agg + min-struct mode = ONE wide shuffle. r9: a conditional "
        "scan fan-out exchange (operators/fanout.py) parallelizes the joins+"
        "agg when the file layout is single-split; no-op on well-split input."
    ),
    "tpch_q1_pricing": (
        "Pure aggregation: pruned 7-column scan with pushed date filter, "
        "partial+final hash agg on a 6-value key, decimal-exact sums inside "
        "whole-stage codegen. r9: conditional scan fan-out ahead of the "
        "partial agg (filter still pushes below it into the scan)."
    ),
    "left_join_equi": (
        "Two-hop broadcast join; fact side never shuffle-joins. r9: "
        "conditional scan fan-out parallelizes the probe side on "
        "single-split layouts."
    ),
    "revenue_by_region": (
        "5-way star join: orders/customer are fact-scaled so they "
        "shuffle-join on their keys (no forced broadcast — at 100 TB a "
        "hinted broadcast OOMs, it does not fall back); only true dims "
        "nation/region BroadcastExchange. AQE may still demote the "
        "shuffle joins to broadcast at runtime when sizes genuinely fit."
    ),
    "hourly_kpis": (
        "Fused multi-distinct: ONE scan -> Expand (per-distinct-column "
        "projections) -> two-phase HashAggregate; both distinct KPIs and "
        "the count come out of a single 2-exchange pipeline."
    ),
    "range_join_windows": (
        "Interval join: intervals explode into overlapped 10-day buckets, "
        "points take one bucket, then a plain shuffled equi-join on the "
        "bucket + residual range filter — no BroadcastNestedLoopJoin."
    ),
    "fuzzy_name_pairs": (
        "Blocked levenshtein linkage (SymSpell symmetric-delete form): "
        "each side explodes to its deletion-key set (Generate), "
        "distinct-aggregates, and the sides meet on an EQUI key — "
        "candidates only — then the exact edit distance verifies; the "
        "O(n^2) cross join never plans."
    ),
    "dedup_clusters": (
        "Connected components (final round shown): edges join labels on "
        "the id, min-aggregate per node; per-round lineage is cut by "
        "localCheckpoint so the iterative plan stays this shape."
    ),
    "similarity_topk": (
        "Brute-force cosine: 1-row query broadcast, per-partition "
        "TakeOrdered for the global top-k."
    ),
    "dedup_minhash": (
        "LSH: exploded shingles -> hash-agg signature mins -> band self-join "
        "(only colliding docs meet) -> verify joins."
    ),
    "tpch_q6_forecast": (
        "Pushdown showcase: the to_date() filter is unwrapped to a raw "
        "timestamp range inside PushedFilters; 4-column pruned scan; no "
        "shuffle before the single-row final agg."
    ),
    "tpch_q18_large_orders": (
        "HAVING shuffle-shrink: lineitem aggregates to order grain BEFORE "
        "any join; top-100 resolves as TakeOrderedAndProject, not a "
        "single-partition window."
    ),
    "revenue_deciles": (
        "Exact distributed NTILE: repartitionByRange + local row_number + "
        "broadcast #partition-row offsets — no global-window exchange of "
        "the full customer set."
    ),
    "tpch_q17_small_quantity": (
        "Decorrelated scalar subquery: per-part decimal-exact averages "
        "join back to the fact; both sides shuffle on l_partkey once."
    ),
    "sessionize_events": (
        "Gap sessionization via lag+cumsum windows. r9: the conditional "
        "scan fan-out hashes on the WINDOW key, so it REPLACES the window's "
        "own exchange (same exchange count as before) while parallelizing "
        "the scan-side work."
    ),
    "sessionize_native": (
        "Engine-native sessions: one exchange on user_id, then "
        "MergingSessions does the gap merge inside the aggregate — no "
        "user-side window sort, no lag/cumsum pipeline."
    ),
    "hopping_windows": (
        "Sliding windows are an Expand (fixed fan-out window/slide = 4) "
        "feeding paired hash aggregates — never a window function. The "
        "exact countDistinct is the scale limiter (see SCALE.md); "
        "hopping_windows_approx swaps in map-side HLL sketches."
    ),
    "daily_anomalies": (
        "Fact pre-aggregates to daily grain FIRST (one shuffle), so the "
        "trailing-window flag math runs over ~rows-per-day-of-history — "
        "the single-partition window is calendar-bounded by design."
    ),
    "gapfill_daily": (
        "Calendar spine via Generate (sequence+explode) stays distributed; "
        "actuals left-join back on (key, day); LOCF is one ordered window "
        "per key. No driver-side date loop anywhere."
    ),
    "copurchase_pairs": (
        "Market-basket self-join: distinct (order, item) first, then a "
        "PINNED SortMergeJoin — a self-join's sides are identical, so the "
        "static-estimate broadcast (which OOM'd the 100x probe) can never "
        "be right. Support filter after one pair hash-aggregate."
    ),
    "ewma_daily_revenue": (
        "Integer-exact EWMA: the fact scan collapses to daily grain FIRST "
        "(one shuffle), then a <=16-fan-out range self-join of the tiny "
        "daily frame, co-partitioned on the key. No forced broadcast — "
        "AQE decides; the weighted sum stays BIGINT until one final "
        "division."
    ),
    "peak_concurrency": (
        "Sweep line: session_window aggregation (one shuffle on user), "
        "day-clip explode, then running sum + max with windows partitioned "
        "BY DAY — the global-sort trap never appears."
    ),
    "bm25_search": (
        "Retrieval scorer: the term filter lands BEFORE the tf aggregate, "
        "so only query-term rows shuffle; the 1-row stats and |terms|-row "
        "idf frames broadcast; top-k is TakeOrderedAndProject."
    ),
    "scd2_asof_lookup": (
        "Point-in-time lookup as ONE window pass: versions partition each "
        "user's timeline, so the union+last(ignoreNulls) carry replaces an "
        "inequality join — no BroadcastNestedLoop anywhere."
    ),
    "triangle_count": (
        "Graph benchmark: canonical u<v edges (cached), wedge equi-join on "
        "the middle vertex, LeftSemi closure. Both joins shuffle on vertex "
        "keys; the semi-join never materializes triangle rows."
    ),
    "pareto_concentration": (
        "Customer-grain ranking through global_rank: RangePartitioning + "
        "per-partition row_number + broadcast offset add — no unpartitioned "
        "window anywhere, though the frame is customer-sized."
    ),
    "psi_drift": (
        "Drift gate: ONE fact scan builds both period distributions as "
        "conditional counts; everything after is 10-row math on broadcast "
        "totals."
    ),
    "mann_whitney_u": (
        "Rank-sum without the global sort: the fact collapses to the "
        "distinct-value grain (one hash agg), the cumulative rides "
        "RangePartitioning + broadcast offsets (global_prefix_sum), and "
        "the U/z/AUC formula is a 1-row reduction — the pooled-rank "
        "textbook plan would funnel every row through one sort partition."
    ),
    "bootstrap_mean_ci": (
        "Poisson bootstrap: REPARTITION feeds the B=100 explode so the "
        "fan-out parallelizes (single-file scans are one task — the probe "
        "caught the 26s degenerate form); md5-coin weights are map-side, "
        "and the replicate means come from one map-side-combined shuffle "
        "to B rows."
    ),
    "spearman_correlation": (
        "Tie-corrected Spearman: two value-grain rank maps (each a "
        "RangePartitioned prefix sum) hash-join back to rows — doubled "
        "average ranks stay exact integers; the Pearson reduction on "
        "decimal sufficient statistics is a 1-row aggregate."
    ),
    "cusum_alerts": (
        "Declarative CUSUM: the fact pre-aggregates to day grain FIRST, "
        "then the reflection identity (running sum + running min/max) "
        "runs three windows over the calendar-bounded frame; sigma and "
        "the reference level ride in as 1-row broadcasts."
    ),
    "quantile_normalization": (
        "Cross-group alignment: group-keyed rank windows on the fact, "
        "pooled reference via global_rank (RangePartitioning), and the "
        "row->reference map is a plain shuffled equi-join on the exact "
        "integer rank index — no interpolation, no global window."
    ),
}


def explain(spark, name: str, sf_dir: str) -> str:
    """The formatted plan text of one registry key's DataFrame."""
    fn, _ = REGISTRY[name]
    df = fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump_files(out_dir: str, suffix: str, names: list[str]) -> None:
    from bench import HEADLINE

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF), "sf0.1")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    for name in names or HEADLINE:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(explain(spark, name, sf_dir))
        print(f"wrote {path}")
        spark.catalog.clearCache()


def dump_plans_md() -> None:
    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    print("# PLANS — formatted physical plans for the key queries\n")
    print("Generated by `python scripts/dump_plans.py` (sf0.01, local[8]).")
    print("What to look for: `PushedFilters`/pruned `ReadSchema` on scans,")
    print("`BroadcastHashJoin`/`BroadcastExchange` on dim joins, paired")
    print("partial/final `HashAggregate`, and the absence of unnecessary")
    print("`Exchange` nodes.\n")
    for name in COMMENT:
        tree = explain(spark, name, SF).split("\n\n")[0]
        print(f"## {name}\n")
        print(COMMENT[name])
        print("\n```")
        print(tree.strip())
        print("```\n")


def main() -> None:
    args = sys.argv[1:]
    if not args:
        dump_plans_md()
    elif len(args) >= 2:
        dump_files(args[0], args[1], args[2:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
