"""Scale-curve probe: flagship genre_kpis + the LLM-pipeline ops.

Materializes multiplied inputs and times UNMODIFIED registry queries
end-to-end, scan included, at 1×, 10×, and 100×:

- ``genre_kpis`` over a multiplied lineitem fact (orders/customer dims
  unchanged — the realistic shape: facts grow, dims don't);
- ``dedup_minhash`` over multiplied documents (each copy's text is
  perturbed with a per-copy suffix so the corpus stays mostly distinct
  — the curve measures the banded-LSH join, not an adversarial
  all-copies-collide workload);
- ``similarity_topk_ivf`` over multiplied embeddings (per-copy ε-shift
  keeps vectors distinct; vec_id 0 — the query vector — is preserved).

The point is the CURVE, not the absolute numbers: a plan that is
overhead-bound at the base size and near-linear beyond it is the plan
that survives a cluster scale-up; a superlinear curve means the
candidate generation (LSH bands, IVF probes) is degenerating.

Usage: python scripts/scale_probe.py [sf_dir] [op ...] — ops default
to ``genre_kpis dedup_minhash similarity_topk_ivf``; one JSON line to
stdout; scratch data under .scratch/scale_probe (safe to delete).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from music_streaming_etl_spark.plans.testdata_queries import (  # noqa: E402
    SCRATCH,
    _t,
    q_genre_kpis,
    q_tpch_q1_pricing,
)
from music_streaming_etl_spark.session import get_spark  # noqa: E402


def materialize(spark, sf_dir: str, mult: int) -> str:
    out = os.path.join(SCRATCH, "scale_probe", f"x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        # repartition(32) before the multiply: the sf0.1 parquet has
        # only 3 row groups, so an unrepartitioned crossJoin writes
        # (and every probe then scans) the corpus on 3 tasks — the
        # layout artifact the r6 tpch_q1_piped re-measure quantified
        # at ~9× (see SCALE.md). All fact-scale materializers write at
        # 32 partitions now; curves recorded before r6 carry the old
        # layout (noted in SCALE.md).
        li = _t(spark, sf_dir, "lineitem").repartition(32)
        big = li.crossJoin(spark.range(mult).select(F.col("id").alias("_m"))).drop("_m")
        big.write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))
        for t in ("orders", "customer"):
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")),
                os.path.join(out, f"{t}.parquet"),
            )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_llm(spark, sf_dir: str, mult: int) -> str:
    """Multiplied documents + embeddings with per-copy perturbation so
    rows stay distinct (ids re-keyed; copy 0 is the original)."""
    out = os.path.join(SCRATCH, "scale_probe", f"llm_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        docs = _t(spark, sf_dir, "documents").repartition(32)
        (
            docs.crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("doc_id", F.col("doc_id") * mult + m)
            .withColumn(
                # per-copy vowel substitution + suffix: a suffix alone
                # leaves copies' shingle sets ~identical, so every copy
                # band-collides with every other and the probe measures
                # an O(mult²) adversarial workload instead of the LSH
                # join. Rewriting all vowels to a copy-specific letter
                # makes distinct-letter copies genuinely distinct
                # (Jaccard ≈ 0.1) while same-letter copies (every 25th)
                # stay near-dups — a realistic linear duplicate rate.
                "text",
                F.when(m == 0, F.col("text")).otherwise(
                    F.concat(
                        F.regexp_replace(
                            F.col("text"),
                            F.lit("[aeiou]"),
                            F.char((F.lit(98) + m % 25).cast("int")),
                        ),
                        F.lit(" v"),
                        m.cast("string"),
                    )
                ),
            )
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "documents.parquet"))
        )
        embs = _t(spark, sf_dir, "embeddings").repartition(32)
        elem_t = embs.schema["embedding"].dataType.elementType.simpleString()
        (
            embs.crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("vec_id", F.col("vec_id") * mult + m)
            # labels re-keyed per copy: the realistic growth axis is
            # MORE clusters, not 100x-bigger ones — cluster-local
            # pairwise ops (semdedup) are quadratic in cluster size by
            # contract, so a fixed-label multiply would probe an
            # adversarial 10,000x-pairs workload instead of corpus
            # growth (the materialize_events "more users" rule)
            .withColumn("label", F.col("label") * mult + m)
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x: (x + (m % 97).cast("double") * F.lit(1e-5)).cast(
                        elem_t
                    ),
                ),
            )
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "embeddings.parquet"))
        )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_llm_fixed_labels(spark, sf_dir: str, mult: int) -> str:
    """More vectors, CONSTANT classes: vec_id re-keyed + ε-perturbed
    like materialize_llm, but ``label`` is KEPT. This is the growth
    axis ``hard_negative_centroids`` contracts for — its classes are
    a taxonomy (a fixed |L|), not a per-corpus clustering, and its
    fan-out is V·L·dim; multiplying labels with the corpus (the
    semdedup materializer's rule) would probe an O(mult²) workload
    the op explicitly documents against."""
    out = os.path.join(SCRATCH, "scale_probe", f"llmfix_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        embs = _t(spark, sf_dir, "embeddings").repartition(32)
        elem_t = embs.schema["embedding"].dataType.elementType.simpleString()
        (
            embs.crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("vec_id", F.col("vec_id") * mult + m)
            .withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x: (x + (m % 97).cast("double") * F.lit(1e-5)).cast(
                        elem_t
                    ),
                ),
            )
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "embeddings.parquet"))
        )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_orders(spark, sf_dir: str, mult: int) -> str:
    """Multiplied orders (re-keyed o_orderkey; values untouched) for
    the orders-backed probes (z-order, quantile rollup)."""
    out = os.path.join(SCRATCH, "scale_probe", f"ord_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        (
            _t(spark, sf_dir, "orders").repartition(32)
            .crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("o_orderkey", F.col("o_orderkey") * mult + m)
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "orders.parquet"))
        )
        # unchanged dims alongside the multiplied fact (facts grow,
        # dims don't) — lets orders×customer probes run unmodified
        os.symlink(
            os.path.abspath(os.path.join(sf_dir, "customer.parquet")),
            os.path.join(out, "customer.parquet"),
        )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_customer(spark, sf_dir: str, mult: int) -> str:
    """Multiplied customers modeling MORE ENTITIES: rows are re-keyed
    per copy and the name is regenerated from the new key with a
    DIVERSE STEM — the first 6 hex chars of md5(custkey DIV 100) —
    ahead of the ``Customer#%09d`` tail.

    Why the stem (VERDICT r7 item 5): the earlier all-rows-share-one-
    stem corpus (bare ``Customer#%09d``) violated the documented
    SymSpell blocking contract ("block sizes are bounded by true
    near-dup multiplicity, never the corpus" — operators/dedup.py):
    as the dense numeric namespace filled in at 1000×, every deletion
    variant was shared by ever more keys and the verify join grew
    superlinearly — a SYNTHETIC-corpus artifact, not an operator
    defect (real name corpora carry stem entropy). The md5 stem gives
    each 100-key century its own prefix: names in different centuries
    are > 2 edits apart (never co-blocked), names within a century
    differ only in the last two digits, so per-name distance-1 degree
    (~18) and block sizes stay CONSTANT as the corpus multiplies and
    true-dup pairs grow LINEARLY — exactly the contract the operator
    documents.

    (The first r4 version substituted the copy index into the LAST 3
    name chars; that collapsed every ~1000 base keys sharing a prefix
    onto ONE name, i.e. groups of ~1000 exact duplicates → C(1000,2)
    output pairs per group — a quadratic exact-dup explosion that hung
    the 10× probe. Lesson recorded here: a linkage probe's dup
    multiplicity must stay bounded as the corpus multiplies.)"""
    out = os.path.join(SCRATCH, "scale_probe", f"cust_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        cust = _t(spark, sf_dir, "customer").repartition(32)
        (
            cust.crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("c_custkey", F.col("c_custkey") * mult + m)
            .withColumn(
                "c_name",
                F.concat(
                    F.substring(
                        F.md5(
                            F.expr("CAST(c_custkey DIV 100 AS STRING)")
                        ),
                        1,
                        6,
                    ),
                    F.lit("-Customer#"),
                    F.lpad(F.col("c_custkey").cast("string"), 9, "0"),
                ),
            )
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "customer.parquet"))
        )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_events(spark, sf_dir: str, mult: int) -> str:
    """Multiplied events modeling MORE USERS (user_id and event_id
    re-keyed per copy) — per-user history length stays constant, which
    is the realistic growth axis for sessionization / per-user
    windows: partitions multiply, partition size doesn't."""
    out = os.path.join(SCRATCH, "scale_probe", f"ev_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        (
            _t(spark, sf_dir, "events").repartition(32)
            .crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("user_id", F.col("user_id") * mult + m)
            .withColumn("event_id", F.col("event_id") * mult + m)
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "events.parquet"))
        )
        # unchanged dims/facts alongside (facts-of-record don't grow
        # with the event stream in this probe): lets events×orders
        # reconciliation shapes run unmodified. Re-keyed users won't
        # match base customers — fine for CURVE purposes (plan shape
        # and per-row cost are what's measured; match fraction isn't).
        for t in ("orders", "customer"):
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")),
                os.path.join(out, f"{t}.parquet"),
            )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_star(spark, sf_dir: str, mult: int) -> str:
    """Multiplied orders AND lineitem with CONSISTENT re-keying
    (o_orderkey and l_orderkey both map k → k·mult + copy), so the
    fact-fact join relationships survive the multiply — for probing
    join-at-scale ops (business-day gaps, partial correlation)."""
    out = os.path.join(SCRATCH, "scale_probe", f"star_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        (
            _t(spark, sf_dir, "orders").repartition(32)
            .crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("o_orderkey", F.col("o_orderkey") * mult + m)
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "orders.parquet"))
        )
        (
            _t(spark, sf_dir, "lineitem")
            .repartition(32)
            .crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("l_orderkey", F.col("l_orderkey") * mult + m)
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "lineitem.parquet"))
        )
        # unchanged dims alongside the two multiplied facts (facts
        # grow, dims don't) — lets the TPC-H join probes run unmodified
        for t in ("customer", "supplier", "nation", "region", "part"):
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")),
                os.path.join(out, f"{t}.parquet"),
            )
        open(os.path.join(out, "_done"), "w").close()
    return out


def materialize_baskets(spark, sf_dir: str, mult: int) -> str:
    """Multiplied lineitem with re-keyed l_orderkey (more baskets,
    same basket size — the realistic market-basket growth; an un-keyed
    copy would collapse under the distinct and multiply support
    counts instead)."""
    out = os.path.join(SCRATCH, "scale_probe", f"bask_x{mult}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        m = F.col("_m")
        (
            # repartition(32) BEFORE the multiply (as materialize_star
            # does): the sf0.1 parquet has only 3 row groups, so an
            # unrepartitioned crossJoin writes the multiplied corpus
            # on 3 tasks — at 1000× that serializes a 600M-row write
            _t(spark, sf_dir, "lineitem")
            .repartition(32)
            .crossJoin(spark.range(mult).select(F.col("id").alias("_m")))
            .withColumn("l_orderkey", F.col("l_orderkey") * mult + m)
            .drop("_m")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "lineitem.parquet"))
        )
        open(os.path.join(out, "_done"), "w").close()
    return out


def q_ivf_index_search_probe(spark, d: str):
    """Persisted-IVF lifecycle probe: build the bucket-partitioned
    index ONCE per data dir (build cost excluded — it's a one-time
    artifact, like the MinHash index), then time the search path.
    The search scans only the probed bucket partitions, so the curve
    should stay near-FLAT as the corpus multiplies — that flatness is
    the measured 100 TB claim for the index."""
    from music_streaming_etl_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )

    idx = os.path.join(
        SCRATCH, "scale_probe", "ivf_idx", d.strip("/").replace("/", "_")
    )
    emb = _t(spark, d, "embeddings")
    if not os.path.exists(os.path.join(idx, "_done")):
        shutil.rmtree(idx, ignore_errors=True)
        build_ivf_index(emb, "vec_id", "embedding", "label", dim=64, index_dir=idx)
        open(os.path.join(idx, "_done"), "w").close()
    query = emb.filter(F.col("vec_id") == 0)
    return search_ivf_index(spark, idx, query, "embedding", k=10, n_probe=3)


def main() -> None:
    from music_streaming_etl_spark.plans.analytics_queries import (
        q_asof_join_signup,
        q_basket_affinity_lift,
        q_bucketed_join_revenue,
        q_daily_active_users,
        q_entity_resolution,
        q_event_interarrival,
        q_funnel_time_to_step,
        q_tpch_q3_shipping,
        q_tpch_q5_local_supplier,
        q_fuzzy_name_pairs,
        q_customer_retention,
        q_event_transitions,
        q_funnel_conversion,
        q_lateral_top_orders,
        q_locf_fill,
        q_revenue_trend,
        q_rolling_7day_revenue,
        q_salted_skew_count,
        q_scd2_user_state,
        q_sessionize_events,
        q_copurchase_pairs,
        q_copurchase_reach,
        q_ewma_daily_revenue,
        q_hopping_windows,
        q_peak_concurrency,
        q_stickiness_ratios,
        q_quantile_sketch_rollup,
        q_cohort_retention,
        q_sessionize_native,
        q_time_weighted_value,
        q_zorder_values,
        q_cms_frequency,
        q_cube_returnflag_status,
        q_grouping_sets,
        q_hll_rollup_customers,
        q_median_by_group,
        q_monthly_rollup,
        q_percent_rank_cume,
        q_profile_table,
        q_range_join_windows,
        q_revenue_deciles,
        q_snapshot_diff,
        q_token_frequencies,
        q_unpivot_metrics,
        q_variant_props_stats,
        q_window_running_total,
    )
    from music_streaming_etl_spark.plans.extension_queries import (
        q_bm25_search,
        q_dedup_clusters,
        q_dedup_clusters_twophase,
        q_domain_top_docs,
        q_duplicate_spans,
        q_pack_sequences,
        q_pii_redaction,
        q_quality_filter,
        q_semdedup,
        q_training_corpus,
        q_corpus_shuffle,
        q_dedup_containment,
        q_dedup_minhash,
        q_similarity_topk_ivf,
        q_bpe_tokenize,
        q_contamination_check,
        q_dedup_canonical,
        q_doc_chunks,
        q_domain_mixture,
        q_embedding_centroids,
        q_k_anonymity,
        q_key_skew_profile,
        q_pseudonymize_users,
        q_repetition_stats,
        q_sample_per_key,
        q_tfidf_top_terms,
        q_unigram_commonness,
        q_deterministic_sample,
        q_doc_fingerprint,
        q_embedding_neardup,
        q_lang_id,
        q_multimodal_features,
        q_multimodal_props,
        q_multimodal_resize,
        q_ngram_jaccard,
        q_similarity_topk,
        q_simhash_neardup,
        q_stratified_sample,
        q_text_stats,
        q_train_val_split,
        q_winnow_fingerprints,
    )
    from music_streaming_etl_spark.plans.tpch_queries import (
        q_tpch_q2_min_cost_supplier,
        q_tpch_q4_late_orders,
        q_tpch_q6_forecast,
        q_tpch_q7_volume_shipping,
        q_tpch_q8_market_share,
        q_tpch_q9_product_profit,
        q_tpch_q10_returns,
        q_tpch_q11_important_parts,
        q_tpch_q12_priority_mix,
        q_tpch_q13_order_distribution,
        q_tpch_q14_promo_effect,
        q_tpch_q15_top_supplier,
        q_tpch_q16_supplier_counts,
        q_tpch_q17_small_quantity,
        q_tpch_q18_large_orders,
        q_tpch_q19_disjunctive,
        q_tpch_q20_dominant_supplier,
        q_tpch_q21_waiting_supplier,
        q_tpch_q22_idle_customers,
    )

    from music_streaming_etl_spark.plans.advanced_queries import (
        q_attribution_last_touch,
        q_ks_drift,
        q_bitemporal_state_lookup,
        q_capped_running_balance,
        q_cohort_ltv,
        q_daily_autocorrelation,
        q_frequent_triples,
        q_growth_accounting,
        q_percentile_cont_by_group,
        q_rolling_median_7d,
        q_skyline_customers,
    )
    from music_streaming_etl_spark.plans.stats_queries import (
        q_anova_oneway,
        q_audience_overlap,
        q_bootstrap_mean_ci,
        q_business_days_to_ship,
        q_centroid_silhouette,
        q_conformal_interval,
        q_difference_in_differences,
        q_embedding_mmd,
        q_partial_correlation,
        q_stratified_ate,
        q_cusum_alerts,
        q_degree_assortativity,
        q_distribution_moments,
        q_embedding_dim_stats,
        q_event_entropy,
        q_gains_table,
        q_gini_coefficient,
        q_kaplan_meier_churn,
        q_keyness_llr,
        q_mann_kendall_seasonal,
        q_mann_whitney_u,
        q_mcnemar_test,
        q_nearest_warehouse,
        q_npv_revenue_stream,
        q_oov_rate,
        q_shapley_attribution,
        q_sprt_decision,
        q_suggest_constraints,
        q_quantile_normalization,
        q_spearman_correlation,
        q_theil_sen_seasonal,
        q_token_pmi,
        q_weighted_median_price,
    )
    from music_streaming_etl_spark.plans.decision_queries import (
        q_attribution_position_based,
        q_holt_linear_trend,
        q_item_jaccard,
        q_max_drawdown,
        q_rank_biased_overlap,
        q_revenue_recognition,
        q_segment_transition_matrix,
        q_ucb1_allocation,
        q_welch_t_test,
    )

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    ops = args[1:] or [
        "genre_kpis",
        "dedup_minhash",
        "similarity_topk_ivf",
        "corpus_shuffle",
        "zorder_values",
        "quantile_sketch_rollup",
    ]
    spark = get_spark("scale-probe")
    base_docs = _t(spark, sf_dir, "documents").count()
    base_orders = _t(spark, sf_dir, "orders").count()
    base_events = _t(spark, sf_dir, "events").count()
    base_li = _t(spark, sf_dir, "lineitem").count()
    base_cust = _t(spark, sf_dir, "customer").count()
    # embeddings-input ops must rate against the embeddings row count
    # (2,000/sf-unit), not documents (5,000) — curves recorded before
    # r6 used the docs base for these keys, so their absolute rows/s
    # carry a constant 2.5× basis inflation (shapes unaffected: the
    # ratio is the same at every multiple). Post-r6 numbers are on
    # the correct basis.
    base_emb = _t(spark, sf_dir, "embeddings").count()
    probes = {
        "sessionize_native": (q_sessionize_native, materialize_events, base_events),
        "hopping_windows": (q_hopping_windows, materialize_events, base_events),
        "time_weighted_value": (
            q_time_weighted_value, materialize_events, base_events,
        ),
        "copurchase_pairs": (q_copurchase_pairs, materialize_baskets, base_li),
        "genre_kpis": (q_genre_kpis, materialize, 600_000),
        "dedup_minhash": (q_dedup_minhash, materialize_llm, base_docs),
        "similarity_topk_ivf": (q_similarity_topk_ivf, materialize_llm, base_emb),
        "corpus_shuffle": (q_corpus_shuffle, materialize_llm, base_docs),
        "zorder_values": (q_zorder_values, materialize_orders, base_orders),
        "quantile_sketch_rollup": (
            q_quantile_sketch_rollup, materialize_orders, base_orders,
        ),
        "ewma_daily_revenue": (q_ewma_daily_revenue, materialize_orders, base_orders),
        "peak_concurrency": (q_peak_concurrency, materialize_events, base_events),
        "bm25_search": (q_bm25_search, materialize_llm, base_docs),
        "dedup_containment": (q_dedup_containment, materialize_llm, base_docs),
        "ivf_index_search": (q_ivf_index_search_probe, materialize_llm, base_emb),
        "skyline_customers": (q_skyline_customers, materialize_orders, base_orders),
        "percentile_cont_by_group": (
            q_percentile_cont_by_group, materialize_orders, base_orders,
        ),
        "rolling_median_7d": (q_rolling_median_7d, materialize_orders, base_orders),
        "capped_running_balance": (
            q_capped_running_balance, materialize_events, base_events,
        ),
        "bitemporal_state_lookup": (
            q_bitemporal_state_lookup, materialize_events, base_events,
        ),
        "attribution_last_touch": (
            q_attribution_last_touch, materialize_events, base_events,
        ),
        "frequent_triples": (q_frequent_triples, materialize_baskets, base_li),
        "ks_drift": (q_ks_drift, materialize_orders, base_orders),
        "copurchase_reach": (q_copurchase_reach, materialize_baskets, base_li),
        "basket_affinity_lift": (
            q_basket_affinity_lift, materialize_baskets, base_li,
        ),
        "stickiness_ratios": (q_stickiness_ratios, materialize_events, base_events),
        "mann_whitney_u": (q_mann_whitney_u, materialize_orders, base_orders),
        "gini_coefficient": (q_gini_coefficient, materialize_orders, base_orders),
        "distribution_moments": (
            q_distribution_moments, materialize_orders, base_orders,
        ),
        "cusum_alerts": (q_cusum_alerts, materialize_orders, base_orders),
        "event_entropy": (q_event_entropy, materialize_events, base_events),
        "mann_kendall_seasonal": (
            q_mann_kendall_seasonal, materialize_orders, base_orders,
        ),
        "theil_sen_seasonal": (
            q_theil_sen_seasonal, materialize_orders, base_orders,
        ),
        "embedding_dim_stats": (
            q_embedding_dim_stats, materialize_llm, base_emb,
        ),
        "bootstrap_mean_ci": (
            q_bootstrap_mean_ci, materialize_orders, base_orders,
        ),
        "kaplan_meier_churn": (
            q_kaplan_meier_churn, materialize_events, base_events,
        ),
        "token_pmi": (q_token_pmi, materialize_llm, base_docs),
        "degree_assortativity": (
            q_degree_assortativity, materialize_baskets, base_li,
        ),
        "quantile_normalization": (
            q_quantile_normalization, materialize_orders, base_orders,
        ),
        "spearman_correlation": (
            q_spearman_correlation, materialize_orders, base_orders,
        ),
        "audience_overlap": (
            q_audience_overlap, materialize_events, base_events,
        ),
        "weighted_median_price": (
            q_weighted_median_price, materialize_orders, base_orders,
        ),
        "gains_table": (q_gains_table, materialize_llm, base_docs),
        "oov_rate": (q_oov_rate, materialize_llm, base_docs),
        "nearest_warehouse": (
            q_nearest_warehouse, materialize_orders, base_orders,
        ),
        "sprt_decision": (q_sprt_decision, materialize_events, base_events),
        "shapley_attribution": (
            q_shapley_attribution, materialize_events, base_events,
        ),
        "npv_revenue_stream": (
            q_npv_revenue_stream, materialize_orders, base_orders,
        ),
        "centroid_silhouette": (
            q_centroid_silhouette, materialize_llm, base_emb,
        ),
        "stratified_ate": (q_stratified_ate, materialize_events, base_events),
        "difference_in_differences": (
            q_difference_in_differences, materialize_events, base_events,
        ),
        "conformal_interval": (
            q_conformal_interval, materialize_orders, base_orders,
        ),
        "embedding_mmd": (q_embedding_mmd, materialize_llm, base_emb),
        "partial_correlation": (
            q_partial_correlation, materialize_star, base_li,
        ),
        "business_days_to_ship": (
            q_business_days_to_ship, materialize_star, base_li,
        ),
        "anova_oneway": (q_anova_oneway, materialize_orders, base_orders),
        "keyness_llr": (q_keyness_llr, materialize_llm, base_docs),
        "suggest_constraints": (
            q_suggest_constraints, materialize_orders, base_orders,
        ),
        "mcnemar_test": (q_mcnemar_test, materialize_events, base_events),
        "welch_t_test": (q_welch_t_test, materialize_orders, base_orders),
        "max_drawdown": (q_max_drawdown, materialize_orders, base_orders),
        "rank_biased_overlap": (
            q_rank_biased_overlap, materialize_events, base_events,
        ),
        "revenue_recognition": (
            q_revenue_recognition, materialize_orders, base_orders,
        ),
        "item_jaccard": (q_item_jaccard, materialize_star, base_li),
        "ucb1_allocation": (q_ucb1_allocation, materialize_orders, base_orders),
        "holt_linear_trend": (
            q_holt_linear_trend, materialize_events, base_events,
        ),
        "segment_transition_matrix": (
            q_segment_transition_matrix, materialize_orders, base_orders,
        ),
        "attribution_position_based": (
            q_attribution_position_based, materialize_events, base_events,
        ),
        "cohort_ltv": (q_cohort_ltv, materialize_orders, base_orders),
        "growth_accounting": (
            q_growth_accounting, materialize_orders, base_orders,
        ),
        "daily_autocorrelation": (
            q_daily_autocorrelation, materialize_orders, base_orders,
        ),
        "cohort_retention": (
            q_cohort_retention, materialize_orders, base_orders,
        ),
        # r4: window-backlog keys — measured curves before the driver
        # checks them
        "funnel_conversion": (
            q_funnel_conversion, materialize_events, base_events,
        ),
        "sessionize_events": (
            q_sessionize_events, materialize_events, base_events,
        ),
        "event_transitions": (
            q_event_transitions, materialize_events, base_events,
        ),
        "asof_join_signup": (
            q_asof_join_signup, materialize_events, base_events,
        ),
        "scd2_user_state": (
            q_scd2_user_state, materialize_events, base_events,
        ),
        "locf_fill": (q_locf_fill, materialize_events, base_events),
        "customer_retention": (
            q_customer_retention, materialize_orders, base_orders,
        ),
        "rolling_7day_revenue": (
            q_rolling_7day_revenue, materialize_orders, base_orders,
        ),
        "revenue_trend": (q_revenue_trend, materialize_orders, base_orders),
        "lateral_top_orders": (
            q_lateral_top_orders, materialize_orders, base_orders,
        ),
        "semdedup": (q_semdedup, materialize_llm, base_emb),
        "dedup_clusters": (q_dedup_clusters, materialize_llm, base_docs),
        "pack_sequences": (q_pack_sequences, materialize_llm, base_docs),
        "salted_skew_count": (q_salted_skew_count, materialize, base_li),
        "training_corpus": (q_training_corpus, materialize_llm, base_docs),
        "duplicate_spans": (q_duplicate_spans, materialize_llm, base_docs),
        "domain_top_docs": (q_domain_top_docs, materialize_llm, base_docs),
        "pii_redaction": (q_pii_redaction, materialize_llm, base_docs),
        "quality_filter": (q_quality_filter, materialize_llm, base_docs),
        "daily_active_users": (
            q_daily_active_users, materialize_events, base_events,
        ),
        "event_interarrival": (
            q_event_interarrival, materialize_events, base_events,
        ),
        "dedup_clusters_twophase": (
            q_dedup_clusters_twophase, materialize_llm, base_docs,
        ),
        "fuzzy_name_pairs": (
            q_fuzzy_name_pairs, materialize_customer, base_cust,
        ),
        "entity_resolution": (
            q_entity_resolution, materialize_customer, base_cust,
        ),
        # --- backlog batch: orders-grain shapes ---
        "window_running_total": (
            q_window_running_total, materialize_orders, base_orders,
        ),
        "monthly_rollup": (q_monthly_rollup, materialize_orders, base_orders),
        "grouping_sets": (q_grouping_sets, materialize_orders, base_orders),
        "revenue_deciles": (q_revenue_deciles, materialize_orders, base_orders),
        "hll_rollup_customers": (
            q_hll_rollup_customers, materialize_orders, base_orders,
        ),
        "percent_rank_cume": (
            q_percent_rank_cume, materialize_orders, base_orders,
        ),
        # --- lineitem-grain shapes ---
        "median_by_group": (q_median_by_group, materialize, base_li),
        "cube_returnflag_status": (
            q_cube_returnflag_status, materialize, base_li,
        ),
        "unpivot_metrics": (q_unpivot_metrics, materialize, base_li),
        "tpch_q17_small_quantity": (
            q_tpch_q17_small_quantity, materialize, base_li,
        ),
        # --- orders×lineitem star joins (consistent re-keying) ---
        "range_join_windows": (q_range_join_windows, materialize_star, base_li),
        "tpch_q9_product_profit": (
            q_tpch_q9_product_profit, materialize_star, base_li,
        ),
        "tpch_q18_large_orders": (
            q_tpch_q18_large_orders, materialize_star, base_li,
        ),
        "tpch_q21_waiting_supplier": (
            q_tpch_q21_waiting_supplier, materialize_star, base_li,
        ),
        # --- events-grain shapes (growth axis: more users) ---
        "key_skew_profile": (q_key_skew_profile, materialize_events, base_events),
        "cms_frequency": (q_cms_frequency, materialize_events, base_events),
        "variant_props_stats": (
            q_variant_props_stats, materialize_events, base_events,
        ),
        "pseudonymize_users": (
            q_pseudonymize_users, materialize_events, base_events,
        ),
        # --- docs/embeddings corpus shapes ---
        "token_frequencies": (q_token_frequencies, materialize_llm, base_docs),
        "doc_chunks": (q_doc_chunks, materialize_llm, base_docs),
        "repetition_stats": (q_repetition_stats, materialize_llm, base_docs),
        "contamination_check": (
            q_contamination_check, materialize_llm, base_docs,
        ),
        "unigram_commonness": (q_unigram_commonness, materialize_llm, base_docs),
        "domain_mixture": (q_domain_mixture, materialize_llm, base_docs),
        "tfidf_top_terms": (q_tfidf_top_terms, materialize_llm, base_docs),
        "sample_per_key": (q_sample_per_key, materialize_llm, base_docs),
        "dedup_canonical": (q_dedup_canonical, materialize_llm, base_docs),
        "embedding_centroids": (
            q_embedding_centroids, materialize_llm, base_emb,
        ),
        "bpe_tokenize": (q_bpe_tokenize, materialize_llm, base_docs),
        # --- customer-dim shapes ---
        "snapshot_diff": (q_snapshot_diff, materialize_customer, base_cust),
        "profile_table": (q_profile_table, materialize_customer, base_cust),
        "k_anonymity": (q_k_anonymity, materialize_customer, base_cust),
        # --- remaining window keys + funnel median fix evidence ---
        # (ref_pipeline_genre_kpis reads fixed in-repo sample CSVs — no
        # scale axis, intentionally unprobed)
        "bucketed_join_revenue": (
            q_bucketed_join_revenue, materialize_orders, base_orders,
        ),
        "funnel_time_to_step": (
            q_funnel_time_to_step, materialize_events, base_events,
        ),
        # --- full TPC-H decision-support block over the star probe ---
        "tpch_q1_pricing": (q_tpch_q1_pricing, materialize_star, base_li),
        "tpch_q2_min_cost_supplier": (
            q_tpch_q2_min_cost_supplier, materialize_star, base_li,
        ),
        "tpch_q3_shipping": (q_tpch_q3_shipping, materialize_star, base_li),
        "tpch_q4_late_orders": (
            q_tpch_q4_late_orders, materialize_star, base_li,
        ),
        "tpch_q5_local_supplier": (
            q_tpch_q5_local_supplier, materialize_star, base_li,
        ),
        "tpch_q6_forecast": (q_tpch_q6_forecast, materialize_star, base_li),
        "tpch_q7_volume_shipping": (
            q_tpch_q7_volume_shipping, materialize_star, base_li,
        ),
        "tpch_q8_market_share": (
            q_tpch_q8_market_share, materialize_star, base_li,
        ),
        "tpch_q10_returns": (q_tpch_q10_returns, materialize_star, base_li),
        "tpch_q11_important_parts": (
            q_tpch_q11_important_parts, materialize_star, base_li,
        ),
        "tpch_q12_priority_mix": (
            q_tpch_q12_priority_mix, materialize_star, base_li,
        ),
        "tpch_q13_order_distribution": (
            q_tpch_q13_order_distribution, materialize_star, base_orders,
        ),
        "tpch_q14_promo_effect": (
            q_tpch_q14_promo_effect, materialize_star, base_li,
        ),
        "tpch_q15_top_supplier": (
            q_tpch_q15_top_supplier, materialize_star, base_li,
        ),
        "tpch_q16_supplier_counts": (
            q_tpch_q16_supplier_counts, materialize_star, base_li,
        ),
        "tpch_q19_disjunctive": (
            q_tpch_q19_disjunctive, materialize_star, base_li,
        ),
        "tpch_q20_dominant_supplier": (
            q_tpch_q20_dominant_supplier, materialize_star, base_li,
        ),
        "tpch_q22_idle_customers": (
            q_tpch_q22_idle_customers, materialize_star, base_orders,
        ),
        # --- LLM-op family members without curves (r4 third sweep) ---
        "text_stats": (q_text_stats, materialize_llm, base_docs),
        "lang_id": (q_lang_id, materialize_llm, base_docs),
        "doc_fingerprint": (q_doc_fingerprint, materialize_llm, base_docs),
        "winnow_fingerprints": (
            q_winnow_fingerprints, materialize_llm, base_docs,
        ),
        "ngram_jaccard": (q_ngram_jaccard, materialize_llm, base_docs),
        "simhash_neardup": (q_simhash_neardup, materialize_llm, base_docs),
        "embedding_neardup": (q_embedding_neardup, materialize_llm, base_emb),
        "similarity_topk": (q_similarity_topk, materialize_llm, base_emb),
        "deterministic_sample": (
            q_deterministic_sample, materialize_llm, base_docs,
        ),
        "train_val_split": (q_train_val_split, materialize_llm, base_docs),
        "stratified_sample": (q_stratified_sample, materialize_llm, base_docs),
        "multimodal_features": (
            q_multimodal_features, materialize_llm, base_docs,
        ),
        "multimodal_resize": (q_multimodal_resize, materialize_llm, base_docs),
        "multimodal_props": (q_multimodal_props, materialize_events, base_events),
    }
    # --- registry-driven probes (r4 fourth sweep): every remaining
    # un-curved key, mapped to the materializer whose tables it reads.
    # fn comes straight from the REGISTRY so the probe always times
    # the exact registered plan.
    from music_streaming_etl_spark.plans.registry import REGISTRY as _REG

    _MATS = {
        "events": (materialize_events, base_events),
        "orders": (materialize_orders, base_orders),
        "baskets": (materialize_baskets, base_li),
        "star": (materialize_star, base_li),
        "llm": (materialize_llm, base_docs),
        "llm_emb": (materialize_llm, base_emb),
        "llm_fixed_labels_emb": (materialize_llm_fixed_labels, base_emb),
        "customer": (materialize_customer, base_cust),
    }
    _REGISTRY_PROBES = {
        # events-backed
        "ab_test_zscores": "events",
        "agg_topk_by_freq": "events",
        "scan_json_lines": "events",
        "scan_orc_roundtrip": "events",
        "scan_xml_roundtrip": "events",
        "agg_count_distinct": "events",
        "agg_diversity_ratio": "events",
        "asof_join_forward": "events",
        "chi_square_independence": "events",
        "cumulative_unique_users": "events",
        "derive_hour": "events",
        "eb_shrunk_rates": "events",
        "full_outer_reconciliation": "events",
        "gaps_and_islands": "events",
        "hourly_kpis": "events",
        "multi_band_single_scan": "events",
        "multimodal_props_typed": "events",
        "new_vs_returning": "events",
        "parse_timestamp": "events",
        "quarantine_split": "events",
        "scd2_asof_lookup": "events",
        "survival_rmst": "events",
        "top_event_paths": "events",
        "wilson_ci": "events",
        "check_range": "events",
        "check_types": "events",
        "check_freshness": "events",
        # orders-backed (materialize_orders symlinks customer)
        "agg_mode": "orders",
        "anti_join_orphans": "orders",
        "bag_set_ops": "orders",
        "benford_audit": "orders",
        "continuous_aggregate": "orders",
        "daily_anomalies": "orders",
        "dow_seasonality": "orders",
        "gapfill_daily": "orders",
        "histogram_bins": "orders",
        "largest_remainder_quota": "orders",
        "ma_crossover": "orders",
        "null_safe_join_counts": "orders",
        "pareto_concentration": "orders",
        "pearson_correlation": "orders",
        "pivot_status_by_priority": "orders",
        "psi_drift": "orders",
        "regression_slope_daily": "orders",
        "rfm_segmentation": "orders",
        "robust_anomalies": "orders",
        "rollup_priority_status": "orders",
        "seasonal_naive_backtest": "orders",
        "seasonality_strength": "orders",
        "second_highest_daily": "orders",
        "semi_join_matched": "orders",
        "revenue_percentiles": "orders",
        "revenue_percentiles_approx": "orders",
        "partitioned_sink_prune": "orders",
        # lineitem-only
        "abc_classification": "baskets",
        "scan_parquet_pushdown": "baskets",
        "agg_avg": "baskets",
        "agg_count": "baskets",
        "cast_types": "baskets",
        "check_no_nulls": "baskets",
        "check_nonempty": "baskets",
        "check_unique": "baskets",
        "derive_date": "baskets",
        "popularity_index": "baskets",
        "price_volume_mix": "baskets",
        "project_columns": "baskets",
        "recursive_cte_reach": "baskets",
        "tpch_q1_piped": "baskets",
        "winsorized_stats": "baskets",
        "winsorized_stats_approx": "baskets",
        # lineitem+dims / multi-fact
        "engagement_top_track": "star",
        "genre_kpis_sql": "star",
        "left_join_equi": "star",
        "pagerank_copurchase": "star",
        "ratio_to_report": "star",
        "revenue_by_region": "star",
        "top_revenue_customers": "star",
        "triangle_count": "star",
        # documents / embeddings
        "approx_topk_tokens": "llm",
        "auc_doc_length": "llm",
        "cohens_kappa": "llm",
        "domain_mixture_temperature": "llm",
        "hard_negative_centroids": "llm_fixed_labels_emb",
        "lang_confusion": "llm",
        "lang_distribution": "llm",
        "lsh_quality": "llm",
        "multimodal_frames": "llm",
        "quality_weighted_sample": "llm",
        "simhash_fingerprint": "llm",
        "sparse_cosine_topk": "llm",
        "weighted_sample_docs": "llm",
        "similarity_topk_ivf_kmeans": "llm_emb",
        "similarity_topk_pq": "llm_emb",
        "similarity_topk_ivfpq": "llm_emb",
        "ann_recall": "llm_emb",
        # linkage (materialize_customer regenerates names from the
        # re-keyed custkey, and the FS corruption is custkey-derived,
        # so registry B rebuilds consistently at every multiple)
        "record_linkage_scores": "customer",
        "linkage_pattern_counts": "customer",
        # upserts / statistics registered from the staged modules
        "merge_into_customers": "orders",
        "merge_upsert_kpis": "orders",
        "similarity_topk_ivf_full_probe": "llm_emb",
        "kruskal_wallis": "orders",
        "changepoint_mean_shift": "orders",
        "brown_forsythe": "star",
    }
    for _k, _mn in _REGISTRY_PROBES.items():
        _m, _b = _MATS[_mn]
        probes.setdefault(_k, (_REG[_k][0], _m, _b))
    # posting-list pair ops: fan-out is Σ|doc|² — the df-cap is the
    # documented scale knob, so the uncapped probe stops at 10×
    # (r4: token_pmi's registered form is now rarest-K-capped with a
    # hard K²·N pair bound, so it probes to 100× like everything else)
    # recursive_cte_reach: the probe MEASURED the documented limit —
    # recursive UNION ALL enumerates paths, and at 10× baskets the
    # path count blows through Spark's 1M recursion row limit
    # (RECURSION_ROW_LIMIT_EXCEEDED). The query exists to cover the
    # WITH RECURSIVE language surface; the unrolled per-level-DISTINCT
    # copurchase_reach is the scale path (its curve is measured).
    mult_caps: dict = {
        "recursive_cte_reach": (1,),
        # the synthetic corpus has a 31-word vocabulary, so every
        # posting list is corpus-length and the inverted-index join's
        # Σ df² fan-out is O(N²) BY CONSTRUCTION — the measured 1×
        # point (~149s at 5k docs) is the degenerate regime the
        # query's own docstring warns about; on a real corpus the
        # max_df cap bounds the fan-out (dedup_containment's curve
        # measures that path). Multiplying this corpus measures the
        # adversarial workload, not the operator.
        "sparse_cosine_topk": (1,),
    }
    out = {"sf_dir": sf_dir, "ops": {}}
    # ITERATIVE queries (driver-side fixpoint loops with
    # localCheckpoint inside fn()) do their work EAGERLY during query
    # construction — timing only the final action would read back the
    # last checkpoint in ~0.02s and lie. For these, the timed region
    # wraps fn() + the action.
    eager_build = {
        "dedup_clusters",
        "dedup_clusters_twophase",
        "entity_resolution",
        # iterative CC inside fn() (dedup_canonical) and the 16-merge
        # BPE training loop (bpe_tokenize) — time fn()+action or the
        # driver-side iterations escape the measurement
        "dedup_canonical",
        "bpe_tokenize",
        # driver-side power iteration / Lloyd rounds collect between
        # steps — time fn()+action for the same reason
        "pagerank_copurchase",
        "similarity_topk_ivf_kmeans",
    }
    for op in ops:
        fn, mat, base_rows = probes[op]
        points = []
        for mult in mult_caps.get(op, (1, 10, 100)):
            d = sf_dir if mult == 1 else mat(spark, sf_dir, mult)
            if op in eager_build:
                fn(spark, d).write.format("noop").mode("overwrite").save()
                t0 = time.time()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                wall = round(time.time() - t0, 2)
                points.append(
                    {"mult": mult, "input_rows": mult * base_rows,
                     "sec": wall,
                     "rows_per_sec": int(mult * base_rows / wall) if wall > 0 else None}
                )
                print(
                    f"  {op:<20} {mult:>4}x  {mult * base_rows:>11,} rows  {wall:>7.2f}s",
                    file=sys.stderr,
                )
                continue
            df = fn(spark, d)
            df.write.format("noop").mode("overwrite").save()  # warm-up run
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            n_rows = mult * base_rows
            points.append(
                {"mult": mult, "input_rows": n_rows, "sec": wall,
                 "rows_per_sec": int(n_rows / wall) if wall > 0 else None}
            )
            print(
                f"  {op:<20} {mult:>4}x  {n_rows:>11,} rows  {wall:>7.2f}s",
                file=sys.stderr,
            )
        out["ops"][op] = points
    print(json.dumps(out))


if __name__ == "__main__":
    main()
