"""1000× generate→probe→DELETE sweep (VERDICT r5 item 4).

The standing `scale_probe.py` keeps its 1×/10×/100× corpora on disk
so curves are re-runnable; a 600M-row lineitem materialization
(~11 GB parquet + shuffle space) cannot coexist with them inside this
box's ~37 GB free. This harness probes one op at a time with a
strict per-key disk budget: materialize the multiplied corpus, warm
once, time once (same warm+timed methodology as scale_probe.main),
then DELETE the corpus before the next key — the corpora never
coexist.

Usage: python scripts/probe_1000x.py [sf_dir] [mult] [op ...]
  ops default to every PROBES key: the two the r5 sweep left at 100×
  for disk reasons (tpch_q1_piped / item_jaccard) plus the round-7/8
  staged keys. Ops sharing a corpus prefix reuse one materialization
  — the corpus is deleted only after its LAST user (still never
  coexisting with a different prefix's corpus). One JSON line to
  stdout; progress on stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from scale_probe import (  # noqa: E402
    materialize_baskets,
    materialize_customer,
    materialize_events,
    materialize_llm,
    materialize_llm_fixed_labels,
    materialize_orders,
    materialize_star,
)

from music_streaming_etl_spark.plans.decision_queries import (  # noqa: E402
    q_item_jaccard,
)
from music_streaming_etl_spark.plans.staged_queries import (  # noqa: E402
    q_merge_into_customers,
    q_merge_upsert_kpis,
    q_similarity_topk_ivf_full_probe,
)
from music_streaming_etl_spark.plans.staged_r8_queries import (  # noqa: E402
    q_brown_forsythe,
    q_changepoint_mean_shift,
    q_kruskal_wallis,
)
from music_streaming_etl_spark.plans.stats_queries import (  # noqa: E402
    q_tpch_q1_piped,
)
from music_streaming_etl_spark.plans.testdata_queries import (  # noqa: E402
    SCRATCH,
    _t,
)
from music_streaming_etl_spark.session import get_spark  # noqa: E402

# op -> (query fn, materializer, corpus subdir prefix, base table)
PROBES = {
    "tpch_q1_piped": (q_tpch_q1_piped, materialize_baskets, "bask", "lineitem"),
    "item_jaccard": (q_item_jaccard, materialize_star, "star", "lineitem"),
    # round-7 staged keys — probed a decade past their 100× curves
    # BEFORE registration, same pre-driver pattern as the r5/r6 sweeps
    "merge_into_customers": (
        q_merge_into_customers, materialize_orders, "ord", "orders",
    ),
    "merge_upsert_kpis": (
        q_merge_upsert_kpis, materialize_orders, "ord", "orders",
    ),
    "similarity_topk_ivf_full_probe": (
        q_similarity_topk_ivf_full_probe, materialize_llm, "llm", "embeddings",
    ),
    # round-8 staged keys, same discipline
    "kruskal_wallis": (q_kruskal_wallis, materialize_orders, "ord", "orders"),
    "changepoint_mean_shift": (
        q_changepoint_mean_shift, materialize_orders, "ord", "orders",
    ),
    "brown_forsythe": (q_brown_forsythe, materialize_star, "star", "lineitem"),
}

# Fourth sweep: the predicted ROUND-7 re-verify window (the 35 oldest-
# evidence r1-era keys at positions 16-50) probed at 1000× before the
# driver re-checks them — same pre-driver pattern that caught the
# anova overflow. Ops are grouped by corpus so each 600M/150M/100M-row
# corpus materializes ONCE per run (the last-user deletion below).
# Deliberate skips, with rationale: rename_column / ddl_recreate /
# sink_csv / scan_csv_multi / scan_json_lines (sink- or text-format-
# bound — a 1000× probe would measure 10-20 GB of CSV/NDJSON
# serialization IO, not plan shape; their 100× rows stand);
# genre_kpis / dedup_exact (1000× rows already in SCALE.md).
_CORPUS = {
    "events": (materialize_events, "ev", "events"),
    "orders": (materialize_orders, "ord", "orders"),
    "baskets": (materialize_baskets, "bask", "lineitem"),
    "star": (materialize_star, "star", "lineitem"),
    "llm": (materialize_llm, "llm", "documents"),
}
_R7_WINDOW_1000X = {
    "hourly_kpis": "events",
    "agg_topk_by_freq": "events",
    "derive_hour": "events",
    "parse_timestamp": "events",
    "check_types": "events",
    "agg_count_distinct": "events",
    "agg_diversity_ratio": "events",
    "check_range": "events",
    "anti_join_orphans": "orders",
    "semi_join_matched": "orders",
    "agg_mode": "orders",
    "project_columns": "baskets",
    "derive_date": "baskets",
    "cast_types": "baskets",
    "agg_count": "baskets",
    "agg_avg": "baskets",
    "check_nonempty": "baskets",
    "check_no_nulls": "baskets",
    "scan_parquet_pushdown": "baskets",
    "tpch_q1_pricing": "baskets",
    "left_join_equi": "star",
    "text_stats": "llm",
    "lang_id": "llm",
    "lang_confusion": "llm",
    "doc_fingerprint": "llm",
    "winnow_fingerprints": "llm",
    "deterministic_sample": "llm",
    "stratified_sample": "llm",
}


# Fifth sweep: the predicted ROUND-8 window (positions 51-100)
# probed two driver rounds early. Skips, with rationale: the
# shingle-pair family (ngram_jaccard, dedup_containment, lsh_quality,
# simhash_neardup) shares dedup_minhash's documented 1000× disk cap
# (banded self-join shuffle exceeds the box's free disk; 100× rows
# stand, a cluster distributes it); scan_python_datasource is
# source-format-bound; recursive_cte_reach is capped at 1× by its
# measured recursion-row limit; collation_group / copurchase_reach /
# funnel keys already carry 1000×-class rows or lack a corpus mapping.
_CORPUS["llm_emb"] = (materialize_llm, "llm", "embeddings")
_R8_WINDOW_1000X = {
    "multimodal_props": "events",
    "multimodal_props_typed": "events",
    "new_vs_returning": "events",
    "gaps_and_islands": "events",
    "cumulative_unique_users": "events",
    "top_event_paths": "events",
    "chi_square_independence": "events",
    "full_outer_reconciliation": "events",
    "multi_band_single_scan": "events",
    "scd2_asof_lookup": "events",
    "peak_concurrency": "events",
    "bag_set_ops": "orders",
    "benford_audit": "orders",
    "ma_crossover": "orders",
    "null_safe_join_counts": "orders",
    "pareto_concentration": "orders",
    "psi_drift": "orders",
    "rfm_segmentation": "orders",
    "histogram_bins": "orders",
    "ewma_daily_revenue": "orders",
    "check_unique": "baskets",
    "winsorized_stats": "baskets",
    "basket_affinity_lift": "baskets",
    "ratio_to_report": "star",
    "top_revenue_customers": "star",
    "triangle_count": "star",
    "lang_distribution": "llm",
    "quality_weighted_sample": "llm",
    "domain_mixture_temperature": "llm",
    "bm25_search": "llm",
    "train_val_split": "llm",
    "simhash_fingerprint": "llm",
    "multimodal_features": "llm",
    "multimodal_resize": "llm",
    "multimodal_frames": "llm",
    "similarity_topk": "llm_emb",
    "similarity_topk_ivf": "llm_emb",
    "ann_recall": "llm_emb",
    "embedding_neardup": "llm_emb",
}

# Sixth sweep: the predicted ROUND-9 re-verify window (oldest-evidence
# positions ~101-150 of the rotation — r3/r4-era keys) probed at 1000×
# two rounds early, same pre-driver pattern. Deliberate skips, with
# rationale: ref_pipeline_genre_kpis (fixed in-repo sample CSV inputs,
# independent of sf_dir — it pins pipeline parity, not scale);
# dedup_clusters / dedup_clusters_twophase / dedup_canonical /
# training_corpus (all compose dedup_minhash's banded self-join, whose
# 1000× shuffle exceeds this box's free local disk — the recorded
# dedup_minhash cap covers the class; their 100× curves stand).
_CORPUS["customer"] = (materialize_customer, "cust", "customer")
_CORPUS["llm_fixed_labels_emb"] = (
    materialize_llm_fixed_labels, "llmfix", "embeddings",
)
_R9_WINDOW_1000X = {
    # events-backed
    "sprt_decision": "events",
    "shapley_attribution": "events",
    "stratified_ate": "events",
    "difference_in_differences": "events",
    "pseudonymize_users": "events",
    "key_skew_profile": "events",
    "time_weighted_value": "events",
    "event_transitions": "events",
    "variant_props_stats": "events",
    "cms_frequency": "events",
    "funnel_conversion": "events",
    "locf_fill": "events",
    "scd2_user_state": "events",
    # orders-backed (customer dim symlinked by the materializer)
    "weighted_median_price": "orders",
    "nearest_warehouse": "orders",
    "npv_revenue_stream": "orders",
    "conformal_interval": "orders",
    "seasonality_strength": "orders",
    "revenue_trend": "orders",
    "cohort_retention": "orders",
    "quantile_sketch_rollup": "orders",
    "zorder_values": "orders",
    "rolling_7day_revenue": "orders",
    "bucketed_join_revenue": "orders",
    "lateral_top_orders": "orders",
    # consistently re-keyed orders×lineitem
    "business_days_to_ship": "star",
    "partial_correlation": "star",
    "range_join_windows": "star",
    # lineitem-only
    "copurchase_pairs": "baskets",
    "salted_skew_count": "baskets",
    "unpivot_metrics": "baskets",
    # documents / embeddings
    "sample_per_key": "llm",
    "corpus_shuffle": "llm",
    "duplicate_spans": "llm",
    "pack_sequences": "llm",
    "domain_top_docs": "llm",
    "pii_redaction": "llm",
    # centroid_silhouette fans out |V|·|L| BY DESIGN — the generic
    # llm multiplier RE-KEYS labels (|L| grows 1000×, fan-out goes
    # quadratic: measured a zero-progress 1.28T-row join before this
    # mapping was corrected). Like hard_negative_centroids, it must
    # scale on the FIXED-labels corpus: vectors grow, the label
    # domain does not — the realistic shape.
    "centroid_silhouette": "llm_fixed_labels_emb",
    "embedding_mmd": "llm_emb",
    "semdedup": "llm_emb",
    # customer-backed. entity_resolution re-INCLUDED at 1000× in r8:
    # the old exclusion was a synthetic-corpus artifact (all names
    # shared one `Customer#0…` stem, violating the operator's
    # documented blocking contract) — materialize_customer now gives
    # each 100-key century a distinct md5 stem, so blocks stay
    # bounded by name diversity and the corpus exercises the contract
    # instead of an adversarial degenerate namespace.
    "entity_resolution": "customer",
    "k_anonymity": "customer",
    "snapshot_diff": "customer",
    "profile_table": "customer",
    "fuzzy_name_pairs": "customer",
}

# Seventh sweep (round 8): the predicted ROUND-10 re-verify window
# (rotation positions ~101-150) probed at 1000× two rounds early —
# the standing pre-driver pattern. Deliberate skips, with rationale:
# scan_binary_ingest reads the fixed in-repo sample CSVs (no scale
# axis); scan_xml_roundtrip / scan_orc_roundtrip are serializer-
# roundtrip keys (the probe would time the XML/ORC WRITER on 60M rows,
# not the plan — their plans are plain scans);
# tpch_q2_min_cost_supplier scales on the part/supplier DIMENSIONS,
# which no corpus multiplier models (facts are the growth axis
# everywhere else); scd2_user_state / salted_skew_count /
# range_join_windows / unpivot_metrics / rolling_7day_revenue carry
# 1000× rows from earlier sweeps.
_R10_WINDOW_1000X = {
    "daily_active_users": "events",
    "event_interarrival": "events",
    "asof_join_signup": "events",
    "sessionize_events": "events",
    "bitemporal_state_lookup": "events",
    "capped_running_balance": "events",
    "quarantine_split": "events",
    "customer_retention": "orders",
    "rolling_median_7d": "orders",
    "cohort_ltv": "orders",
    "ks_drift": "orders",
    "growth_accounting": "orders",
    "daily_autocorrelation": "orders",
    "percent_rank_cume": "orders",
    "revenue_deciles": "orders",
    "grouping_sets": "orders",
    "monthly_rollup": "orders",
    "partitioned_sink_prune": "orders",
    "window_running_total": "orders",
    "rollup_priority_status": "orders",
    "pivot_status_by_priority": "orders",
    "frequent_triples": "baskets",
    # r8 value-grain rewrites (median_by_group's class): re-probed at
    # 1000x so the banked curve matches the shipped plan
    "percentile_cont_by_group": "orders",
    "revenue_percentiles": "orders",
    "median_by_group": "baskets",
    "cube_returnflag_status": "baskets",
    "tpch_q3_shipping": "star",
    "tpch_q7_volume_shipping": "star",
}

# Eighth sweep (round 8, second session): the predicted ROUND-11
# re-verify window (rotation positions ~151-200) probed at 1000×
# three rounds early — the standing pre-driver pattern. The window is
# dominated by the TPC-H decision-support block, whose r4 curves stop
# at 100×; all seventeen fact-scaled queries extend to 1000× on ONE
# shared star corpus (600M lineitem + 150M orders, dims fixed —
# `tpch_q17_small_quantity`'s earlier 100× row used the baskets
# corpus, but star's lineitem is the identical multiply, so it rides
# the shared materialization here). Deliberate skips, with rationale:
# tpch_q2_min_cost_supplier scales on the part/supplier DIMENSIONS
# (documented seventh-sweep skip — no corpus multiplier models dim
# growth); rename_column / ddl_recreate are sink-bound (the probe
# would time a 10-20 GB CSV serialization, not plan shape — the
# standing fourth-sweep rationale); genre_kpis carries a 1000× row
# from the r2 flagship sweep; every other position-151-200 key
# (welch_t_test, max_drawdown, item_jaccard, survival_rmst, the
# P1-P7/J/V primitives, …) carries 1000× rows from earlier sweeps.
# Ninth (tail) mini-sweep (r8 second session): the LAST registry keys
# without 1000x rows — after this, every registry key carries either a
# 1000x curve or a documented skip rationale (serializer-bound:
# scan_csv_multi / sink_csv / scan_python_datasource; dim-sized:
# collation_group / rename_column / ddl_recreate; shingle-pair disk
# cap: dedup_containment's class; driver-bounded-by-design loop caps
# recorded at their own grain: recursive_cte_reach).
_R12_TAIL_1000X = {
    "stickiness_ratios": "events",
    "agg_count_distinct_approx": "events",
    "hopping_windows_approx": "events",
    "hll_rollup_customers": "orders",
    "bpe_tokenize": "llm",
}

_R11_WINDOW_1000X = {
    # events-backed
    "mcnemar_test": "events",
    "eb_shrunk_rates": "events",
    # orders-backed
    "suggest_constraints": "orders",
    # documents-backed
    "cohens_kappa": "llm",
    # TPC-H block on the shared star corpus
    "tpch_q4_late_orders": "star",
    "tpch_q6_forecast": "star",
    "tpch_q8_market_share": "star",
    "tpch_q9_product_profit": "star",
    "tpch_q10_returns": "star",
    "tpch_q11_important_parts": "star",
    "tpch_q12_priority_mix": "star",
    "tpch_q13_order_distribution": "star",
    "tpch_q14_promo_effect": "star",
    "tpch_q15_top_supplier": "star",
    "tpch_q16_supplier_counts": "star",
    "tpch_q17_small_quantity": "star",
    "tpch_q18_large_orders": "star",
    "tpch_q19_disjunctive": "star",
    "tpch_q20_dominant_supplier": "star",
    "tpch_q21_waiting_supplier": "star",
    "tpch_q22_idle_customers": "star",
}


def _pid_alive(pid: int) -> bool:
    """True iff ``pid`` is a live process (signal-0 probe; EPERM
    counts as alive — the process exists under another uid)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _extend_with_registry() -> None:
    from music_streaming_etl_spark.plans.registry import REGISTRY as _REG

    for k, c in {
        **_R7_WINDOW_1000X,
        **_R8_WINDOW_1000X,
        **_R9_WINDOW_1000X,
        **_R10_WINDOW_1000X,
        **_R11_WINDOW_1000X,
        **_R12_TAIL_1000X,
    }.items():
        m, p, b = _CORPUS[c]
        PROBES.setdefault(k, (_REG[k][0], m, p, b))


_extend_with_registry()


def _rebuild_session(tag: str):
    """Recover a usable SparkSession after the previous one's JVM
    died. Two escalation levels, both measured on this box:

    1. plain ``get_spark`` — enough when only the SparkContext was
       stopped (the JVM survives; getOrCreate builds a new context);
    2. py4j GATEWAY RESET + relaunch — when the executor OOM killed
       the whole JVM (local mode has no executor isolation: an
       uncaught task OOM takes SparkSubmit down), ``get_spark`` dies
       with ConnectionRefused on the dead gateway. Clearing the
       cached gateway/jvm/context class slots forces PySpark to
       launch a FRESH JVM, verified by running a real job
       (``range(1).count()``), not just constructing the session.

    Returns the live session, or None when even a fresh JVM cannot
    come up (at which point the caller emits the partial JSON)."""
    try:
        s = get_spark(f"probe-1000x-recovered-{tag}")
        s.range(1).count()
        return s
    except Exception:  # noqa: BLE001 — JVM itself is gone
        pass
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
        for attr in ("_instantiatedSession", "_activeSession"):
            if hasattr(SparkSession, attr):
                setattr(SparkSession, attr, None)
        print("  dead JVM — relaunching a fresh gateway", file=sys.stderr)
        s = get_spark(f"probe-1000x-fresh-jvm-{tag}")
        s.range(1).count()
        return s
    except Exception as e:  # noqa: BLE001
        print(f"  fresh-JVM relaunch failed: {e}", file=sys.stderr)
        return None


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    # dedupe up front: last-user corpus bookkeeping below assumes each
    # op appears once (a duplicated non-last op would re-stamp the
    # marker without re-materializing)
    ops = list(dict.fromkeys(sys.argv[3:])) or list(PROBES)
    # GROUP ops by corpus prefix (stable: groups keep first-appearance
    # order, ops keep their order within a group). Last-user deletion
    # only honors the never-coexist disk budget when each prefix's
    # users are CONTIGUOUS — an interleaved op list would keep every
    # corpus alive until its last user and let five 1000× corpora
    # coexist on a box that can hold one.
    group_order = {
        p: i for i, p in enumerate(dict.fromkeys(PROBES[op][2] for op in ops))
    }
    ops = sorted(ops, key=lambda op: group_order[PROBES[op][2]])
    spark = get_spark("probe-1000x")
    # sweep any ephemeral corpus a crashed earlier run stranded (the
    # marker is only written on corpora a probe run materialized, so
    # scale_probe.py's standing re-runnable corpora are never touched)
    probe_root = os.path.join(SCRATCH, "scale_probe")
    if os.path.isdir(probe_root):
        for d in os.listdir(probe_root):
            marker = os.path.join(probe_root, d, "_ephemeral")
            if not os.path.exists(marker):
                continue
            # the marker is stamped with the owning run's PID: skip a
            # marker whose owner is still alive so a second probe run
            # cannot delete a live run's shared corpus mid-use
            try:
                with open(marker) as f:
                    owner = int(f.read().strip() or 0)
            except (OSError, ValueError):
                owner = 0
            if owner and owner != os.getpid() and _pid_alive(owner):
                print(
                    f"  corpus {d} owned by live pid {owner} — not sweeping",
                    file=sys.stderr,
                )
                continue
            shutil.rmtree(os.path.join(probe_root, d), ignore_errors=True)
            print(f"  swept stranded corpus {d}", file=sys.stderr)
    base_rows = {
        t: _t(spark, sf_dir, t).count()
        for t in {PROBES[op][3] for op in ops}
    }
    out = {"sf_dir": sf_dir, "mult": mult, "ops": {}}
    # delete a shared corpus only after its LAST user in this run —
    # ops probing the same prefix reuse one materialization instead
    # of paying the multi-minute 1000× write per op
    last_user = {PROBES[op][2]: op for op in ops}
    created: set[str] = set()  # prefixes THIS RUN materialized
    for op in ops:
        fn, mat, prefix, base_tbl = PROBES[op]
        corpus = os.path.join(SCRATCH, "scale_probe", f"{prefix}_x{mult}")
        # only delete a corpus THIS run materialized — at small mults
        # the materializer returns scale_probe.py's standing (kept-
        # on-disk, re-runnable) corpora untouched, and deleting those
        # would silently charge the next scale_probe run their full
        # re-materialization cost
        # "preexisting" must mean existed BEFORE this run, not before
        # this op — a shared corpus the run's first user materialized
        # still belongs to the run and is deleted by its last user
        if not os.path.exists(os.path.join(corpus, "_done")):
            created.add(prefix)
        try:
            t0 = time.time()
            d = mat(spark, sf_dir, mult)
            if prefix in created:
                # marker for the startup sweep above: a crash between
                # a shared corpus's first and last user would strand
                # a _done-marked corpus no later run would delete
                with open(os.path.join(d, "_ephemeral"), "w") as mf:
                    mf.write(str(os.getpid()))
            print(
                f"  {op}: materialized x{mult} in {time.time() - t0:.0f}s",
                file=sys.stderr,
            )
            df = fn(spark, d)
            df.write.format("noop").mode("overwrite").save()  # warm-up
            t0 = time.time()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            n_rows = mult * base_rows[base_tbl]
            out["ops"][op] = {
                "mult": mult,
                "input_rows": n_rows,
                "sec": wall,
                "rows_per_sec": int(n_rows / wall) if wall > 0 else None,
            }
            print(
                f"  {op:<20} {mult:>5}x  {n_rows:>13,} rows  {wall:>8.2f}s",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001 — keep earlier ops' results
            # a later op's failure (e.g. disk exhaustion during its
            # materialize) must not discard measurements already paid
            # for — record the error and emit the partial JSON
            out["ops"][op] = {"mult": mult, "error": str(e)[:500]}
            print(f"  {op}: FAILED — {e}", file=sys.stderr)
            # an OOM-class failure can take the whole SparkContext
            # down with it (measured: winnow_fingerprints at 5M docs
            # GC-storms the JVM to death) — without recovery every
            # LATER op fails spuriously on the stopped context and a
            # night's sweep loses its tail. Rebuild the session so
            # only the guilty op records an error.
            try:
                stopped = spark.sparkContext._jsc.sc().isStopped()
            except Exception:  # noqa: BLE001 — bridge itself is dead
                stopped = True
            if stopped:
                print("  SparkContext died — rebuilding session", file=sys.stderr)
                spark = _rebuild_session(op)
                if spark is None:
                    # even a fresh-JVM relaunch failed: nothing more
                    # can run, but the paid-for measurements must
                    # still emit — break to the final print instead
                    # of raising past it
                    out["ops"][op]["error"] += " | session rebuild failed"
                    print(json.dumps(out))
                    return
        finally:
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001 — context died mid-op
                pass
            if prefix in created and last_user[prefix] == op:
                shutil.rmtree(corpus, ignore_errors=True)
                print(f"  {op}: corpus deleted", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
