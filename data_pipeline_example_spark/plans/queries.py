"""Query registry — the driver contract surface.

One named entry per implemented operator from SURVEY.md §2 plus the
LLM-data-pipeline extensions. Each callable takes (spark, sf_dir) and
returns a DataFrame whose column names/types match the DuckDB oracle in
plans/oracles.py exactly (the driver hash-compares them at sf0.01).

The reference's retail fact table is mapped onto the driver's ``events``
table per FIXTURES.md F-D: ts → order_ts/order_date, event_type →
product, value → amount.
"""

from __future__ import annotations

import functools
import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_example_spark.operators import (
    asof,
    dedup,
    multimodal,
    retail,
    sampling,
    similarity,
    text,
    tpch,
    users,
    windows,
)
from data_pipeline_example_spark.sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _events_retail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURES.md F-D mapping of events → conformed retail shape."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("order_ts"),
        F.to_date("ts").alias("order_date"),
        F.col("event_type").alias("product"),
        F.col("value").alias("amount"),
    )


def _windowed(spark: SparkSession, sf_dir: str, rounded: bool = False) -> DataFrame:
    return windows.sliding_window_agg(_events_retail(spark, sf_dir), rounded=rounded)


# --- retail pipeline (SURVEY.md A1/A2/A4/A5, O1-O3) ---------------------


def q_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.daily_revenue(_events_retail(spark, sf_dir))


def q_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.kpis(_events_retail(spark, sf_dir))


def q_kpis_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long KPI reshape via the native unpivot (MELT) operator."""
    return retail.kpis_long(_events_retail(spark, sf_dir))


def q_per_day_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.per_day_totals(retail.daily_revenue(_events_retail(spark, sf_dir)))


def q_top_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.top_products(retail.daily_revenue(_events_retail(spark, sf_dir)))


def q_sample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.sample_rows(
        _events_retail(spark, sf_dir).select("event_id", "order_date", "product", "amount")
    )


def q_events_json_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/try_cast + coalesce + when over a JSON props column
    (the conform cleanse idioms, exercised on driver data)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return ev.select(
        "event_id",
        F.col("event_type").alias("product"),
        F.coalesce(k, F.lit(0)).alias("k_value"),
        F.when(F.col("value") > 100.0, F.lit("high")).otherwise(F.lit("low")).alias(
            "value_band"
        ),
    )


# --- sliding-window analytics (A3, A5-A9, F5, O4-O8) --------------------


def q_sliding_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _windowed(spark, sf_dir, rounded=True)


def q_latest_window_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.latest_window_leaderboard(_windowed(spark, sf_dir))


def q_window_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.window_health(_windowed(spark, sf_dir))


def q_timeline_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.timeline_points(_windowed(spark, sf_dir))


def q_window_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.summary_stats(_windowed(spark, sf_dir))


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.user_sessions(load_table(spark, sf_dir, "events"))


# --- joins / star-schema aggregations (SURVEY.md §2.5 rebuild surface) --


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.pricing_summary(load_table(spark, sf_dir, "lineitem"))


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.top_revenue_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_nation_actor_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: per-nation customer vs supplier counts."""
    return tpch.nation_actor_presence(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.supplier_nation_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_customer_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.customer_nation_revenue(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.order_priority_count(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.brand_volume(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.segment_stats(load_table(spark, sf_dir, "customer"))


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.customer_order_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.lapsed_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_fulfilled_customers_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.fulfilled_customers_by_nation(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.large_orders(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.top_supplier_per_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.revenue_rollup(_events_retail(spark, sf_dir))


def q_high_value_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.high_value_churn(load_table(spark, sf_dir, "events"))


def q_high_value_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.high_value_retained(load_table(spark, sf_dir, "events"))


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.forecast_revenue(load_table(spark, sf_dir, "lineitem"))


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.volume_shipping(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"),
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.product_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "part"),
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.top_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


def q_discount_eligible_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.discount_eligible_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_shipment_delay_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.shipment_delay_by_priority(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


def q_sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.sole_return_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.idle_rich_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


def q_customer_value_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.customer_value_tiles(load_table(spark, sf_dir, "orders"))


def q_first_last_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.first_last_order_value(load_table(spark, sf_dir, "orders"))


def q_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.salted_event_totals(load_table(spark, sf_dir, "events"))


def q_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.rolling_revenue_7d(
        retail.daily_revenue(_events_retail(spark, sf_dir))
    )


def q_returns_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.returns_cube(load_table(spark, sf_dir, "lineitem"))


def q_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof.asof_join_events(load_table(spark, sf_dir, "events"))


def q_priority_revenue_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.priority_revenue_pivot(load_table(spark, sf_dir, "orders"))


def q_customer_spend_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.customer_spend_distribution(load_table(spark, sf_dir, "orders"))


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.value_histogram(load_table(spark, sf_dir, "events"))


def q_hash_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.hash_split_summary(load_table(spark, sf_dir, "events"))


def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.events_profile(load_table(spark, sf_dir, "events"))


def q_props_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.props_key_stats(load_table(spark, sf_dir, "events"))


def q_props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT-typed JSON extraction (parse once, typed gets)."""
    return users.props_variant_stats(load_table(spark, sf_dir, "events"))


def q_day_over_day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retail.day_over_day_revenue(retail.daily_revenue(_events_retail(spark, sf_dir)))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.value_percentiles(load_table(spark, sf_dir, "events"))


def q_user_cardinality_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the oracle-checked projection: exact distinct counts only (the
    # HLL sketch column is engine-specific — see users.user_cardinality)
    return users.user_cardinality(load_table(spark, sf_dir, "events")).select(
        "event_type", "users_exact"
    )


# --- sampling extensions -------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_sample(load_table(spark, sf_dir, "events"))


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.reservoir_sample(load_table(spark, sf_dir, "events"))


def q_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.value_quantile_sketch(load_table(spark, sf_dir, "events"))


def q_bloom_pruned_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch.bloom_pruned_brand_volume(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


# --- text analysis extensions -------------------------------------------


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_stats(load_table(spark, sf_dir, "documents"))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.corpus_stats(load_table(spark, sf_dir, "documents"))


def q_lang_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_predict(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_fingerprints(load_table(spark, sf_dir, "documents"))


def q_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching signal: dominant vs runner-up language vote share."""
    return text.lang_mixture(load_table(spark, sf_dir, "documents"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_counts(load_table(spark, sf_dir, "documents"))


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.curated_corpus(load_table(spark, sf_dir, "documents"))


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pack_documents(load_table(spark, sf_dir, "documents"))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher document-quality rule set — zero-shuffle gate."""
    return text.gopher_quality(load_table(spark, sf_dir, "documents"))


def q_c4_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning audit — zero-shuffle."""
    return text.c4_line_stats(load_table(spark, sf_dir, "documents"))


# --- dedup extensions ----------------------------------------------------


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.top_bigrams(load_table(spark, sf_dir, "documents"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.redact_pii(load_table(spark, sf_dir, "documents"))


def q_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution — the embedding drift monitor."""
    return similarity.embedding_profile(load_table(spark, sf_dir, "embeddings"))


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64 -> 16 dims (same hyperplane family as SRP)."""
    return similarity.project_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: 4 subspaces x 16 data-derived centroids."""
    return similarity.pq_codes(load_table(spark, sf_dir, "embeddings"))


def q_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10: coarse probe + PQ asymmetric scoring + exact re-rank."""
    return similarity.ivfpq_knn(load_table(spark, sf_dir, "embeddings"))


def q_user_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV distinct-count sketch (oracle-able, unlike HLL++)."""
    return users.user_cardinality_kmv(load_table(spark, sf_dir, "events"))


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sampling without replacement, exact k, deterministic."""
    return sampling.priority_sample(load_table(spark, sf_dir, "documents"))


def q_user_cardinality_kmv_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV sketches in one pass (WindowGroupLimit pre-trim)."""
    return users.user_cardinality_kmv_by_type(load_table(spark, sf_dir, "events"))


def q_image_phash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode -> real resize -> integer aHash, oracled end to end."""
    return multimodal.image_phash_stats(load_table(spark, sf_dir, "documents"))


def q_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: banded aHash LSH over the real decode path."""
    return multimodal.phash_dup_pairs(load_table(spark, sf_dir, "documents"))


def q_audio_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document WHOLE-PAYLOAD audio duplicates, one row per shared
    window: window_md5 hashes the whole analyzed buffer + the window
    index, so only byte-identical payloads collide (the per-segment
    sweep is wav_dup_windows)."""
    return multimodal.audio_dup_windows(
        multimodal.attach_binary(load_table(spark, sf_dir, "documents")),
        window_ms=10,
    )


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall vs brute-force ground truth (composed certified ops)."""
    return similarity.ivfpq_recall(load_table(spark, sf_dir, "embeddings"))


def q_srp_recall_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH recall vs exact cosine ground truth (composed audits)."""
    return similarity.srp_recall_summary(load_table(spark, sf_dir, "embeddings"))


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: deterministic old/new views of the corpus (10%
    removed, 10% added, 10% content-changed) through dedup.corpus_diff."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" rev2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.corpus_diff(old, new)


def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook representation-quality audit per subspace."""
    return similarity.pq_distortion(load_table(spark, sf_dir, "embeddings"))


def q_corpus_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn rollup of the snapshot diff (same synthetic old/new views)."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 3).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" rev2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.corpus_diff_summary(old, new)


def q_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.contamination_pairs(load_table(spark, sf_dir, "documents"))


def q_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.mixture_rates(load_table(spark, sf_dir, "documents"))


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.mixture_sample(load_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_centroids(load_table(spark, sf_dir, "embeddings"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.1)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_clusters(
        dedup.jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.1)
    )


def q_dedup_clusters_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the banded-LSH verified pair graph —
    the scale pair generator (never O(n²)) feeding the one CC,
    :func:`dedup.dedup_clusters`' min-label propagation."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_clusters(dedup.minhash_lsh_pairs(docs, threshold=0.1))


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (CCNet/RefinedWeb first stage):
    deterministic synthetic raw URLs → scheme/www/fragment/query strip
    + host lowercasing → canonical-key keeper verdict. Text never read."""
    from data_pipeline_example_spark.operators import urls

    return urls.url_canonical_dedup(load_table(spark, sf_dir, "documents"))


def q_cluster_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster dedup-quality audit: pair-graph density + mean
    verified Jaccard over the min-label CC clusters of the banded-LSH
    pairs (chain-weld detection)."""
    return dedup.cluster_coherence(load_table(spark, sf_dir, "documents"))


def q_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_summary(
        docs, dedup.dedup_clusters(dedup.jaccard_pairs(docs, threshold=0.1))
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.1)


def q_lsh_recall_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of banded-LSH vs the exact Jaccard ground truth."""
    return dedup.lsh_recall_summary(load_table(spark, sf_dir, "documents"))


def q_minhash_jaccard_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_jaccard_estimates(
        load_table(spark, sf_dir, "documents"), min_est=0.1
    )


def q_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.value_stats(load_table(spark, sf_dir, "events"))


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(load_table(spark, sf_dir, "documents"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_dup_pairs(load_table(spark, sf_dir, "embeddings"))


def q_cosine_dup_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid-bucketed scale path for embedding near-dup (the
    registered exact twin is cosine_dup_pairs)."""
    return similarity.cosine_dup_pairs_blocked(load_table(spark, sf_dir, "embeddings"))


def q_srp_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH near-dup — the data-independent
    bucketed scale path (no centroid pass; streaming-friendly)."""
    return similarity.srp_dup_pairs(load_table(spark, sf_dir, "embeddings"))


def q_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style within-cluster keep/drop decision per vector."""
    return similarity.semantic_prune(load_table(spark, sf_dir, "embeddings"))


def q_embedding_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified prototype selection (top-m most central per
    centroid bucket)."""
    return similarity.embedding_prototypes(load_table(spark, sf_dir, "embeddings"))


def q_semantic_prune_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with adaptive centroid count and a hard per-bucket cap —
    the bounded-work 100 TB twin of semantic_prune."""
    return similarity.semantic_prune_capped(load_table(spark, sf_dir, "embeddings"))


def q_nearest_neighbor_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-corpus NN with adaptive centroids + hard bucket cap — the
    bounded-work twin of nearest_neighbor_blocked."""
    return similarity.nearest_neighbor_capped(load_table(spark, sf_dir, "embeddings"))


# --- similarity-search extensions ----------------------------------------


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn(load_table(spark, sf_dir, "embeddings"))


def q_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.nearest_neighbor_per_vector(load_table(spark, sf_dir, "embeddings"))


def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_knn(load_table(spark, sf_dir, "embeddings"))


def q_nearest_neighbor_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-blocked hybrid all-corpus NN — the scale twin of the exact
    nearest_neighbor baseline."""
    return similarity.nearest_neighbor_blocked(load_table(spark, sf_dir, "embeddings"))


# --- multimodal plumbing --------------------------------------------------


def q_user_reach_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-oracled since r6: the KMV union-merge is deterministic and
    # SQL-portable (the HLL-binary predecessor was rows-only)
    return users.user_reach_rollup(load_table(spark, sf_dir, "events"))


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: iterative refinement isn't one SQL query; the
    # unit test asserts inertia monotonicity and full assignment
    return similarity.kmeans_embeddings(load_table(spark, sf_dir, "embeddings"))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_features(load_table(spark, sf_dir, "documents"))


def q_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-window fan-out plumbing (headerless raw-PCM16 path; 10 ms
    windows at 16 kHz so the synthetic payloads yield several windows
    each; window_md5 digests the whole payload + window index). The
    container-decode path is certified separately by
    decoded_audio_stats."""
    return multimodal.audio_windows(
        multimodal.attach_binary(load_table(spark, sf_dir, "documents")),
        window_ms=10,
    )


def q_wav_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup audio segments over REAL decoded WAV containers:
    per-window content digests of the decoded samples, grouped
    corpus-wide; equal-length texts synthesize byte-identical streams,
    so real duplicate segments exist by construction."""
    return multimodal.wav_dup_windows(load_table(spark, sf_dir, "documents"))


def q_decoded_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio container decode end-to-end: synthesized RIFF/WAV
    payloads (hex-built in column expressions, LIST-chunk variants
    included) through the stdlib chunk-walking PCM16 parser, windowed
    at 1 ms over the decoded samples at the PARSED rate; exact-integer
    per-window stats replayed by the oracle in closed form."""
    return multimodal.decoded_audio_stats(load_table(spark, sf_dir, "documents"))


def q_decoded_aiff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode for the SECOND audio container family: synthesized
    big-endian FORM/AIFF payloads (80-bit extended sample rate, ANNO
    metadata-chunk variants) through the stdlib chunk-walking parser,
    windowed at 1 ms over the decoded samples at the PARSED rate;
    exact-integer per-window stats replayed by the oracle in closed
    form."""
    return multimodal.decoded_aiff_stats(load_table(spark, sf_dir, "documents"))


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.frame_samples(load_table(spark, sf_dir, "documents"))


def q_decoded_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the driver: synthesized P6 payloads →
    live decoder (stdlib netpbm here, PIL on cluster images) → dims.
    The oracle recomputes the intended dimensions from the same
    text-length formula, so a header mis-parse or dropped payload
    hash-mismatches."""
    return multimodal.decoded_image_stats(load_table(spark, sf_dir, "documents"))


# --- chunking / provenance curation / event analytics ---------------------


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(load_table(spark, sf_dir, "documents"))


def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_dedup_stats(load_table(spark, sf_dir, "documents"))


def q_source_blocklist_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.source_blocklist_summary(load_table(spark, sf_dir, "documents"))


def q_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.value_anomalies(load_table(spark, sf_dir, "events"))


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.retention_cohorts(load_table(spark, sf_dir, "events"))


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return users.event_funnel(load_table(spark, sf_dir, "events"))


def q_range_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof.range_join_counts(load_table(spark, sf_dir, "events"))


def q_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.frequent_terms(load_table(spark, sf_dir, "documents"))


def q_unigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.unigram_scores(load_table(spark, sf_dir, "documents"))


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency token-length buckets for padding-efficient
    dynamic batching."""
    return text.length_buckets(load_table(spark, sf_dir, "documents"))


def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-8-gram fraction — zero-shuffle repetition
    filter."""
    return text.dup_ngram_fraction(load_table(spark, sf_dir, "documents"))


def q_corpus_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-8-gram fraction — the corpus-level
    boilerplate/mirror signal (TF-IDF shuffle shape)."""
    return text.corpus_dup_ngrams(load_table(spark, sf_dir, "documents"))


def q_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline (quality → exact dedup → LSH near-dup
    → decontamination → chunking) as one audited summary row."""
    from data_pipeline_example_spark import curation

    return curation.curation_summary(load_table(spark, sf_dir, "documents"))


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume (same-nation customer and
    supplier, one region, one order year)."""
    return tpch.local_supplier_volume(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


def q_ccnet_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet bucket-rate sampling rollup (head/middle/tail rates)."""
    return text.ccnet_mixture(load_table(spark, sf_dir, "documents"))


def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact top-k: many queries, one corpus scan."""
    return similarity.knn_batch(load_table(spark, sf_dir, "embeddings"))


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rule set (dup lines + top-n-gram coverage)."""
    return text.gopher_repetition(load_table(spark, sf_dir, "documents"))


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII census: email/phone/IPv4 counts per document."""
    return text.pii_scan(load_table(spark, sf_dir, "documents"))


def q_source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature sampling weights per source."""
    return text.source_temperature_weights(load_table(spark, sf_dir, "documents"))


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 lexical retrieval over the documents table."""
    return text.bm25_search(load_table(spark, sf_dir, "documents"))


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25: three queries served from ONE tokenize scan."""
    return text.bm25_batch(load_table(spark, sf_dir, "documents"))


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the doc_id%10==3 slice arrives as
    the new batch and is admitted against the rest of the corpus (the
    existing index side) — one-sided banded join, best-match verdict
    per new doc."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 3)
    old = docs.filter(F.col("doc_id") % 10 != 3)
    return dedup.minhash_incremental(new, old, threshold=0.1)


def _input_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap driver-side fingerprint of a table's parquet input:
    (relative path, size, mtime_ns) of every data file, walked in
    sorted order (directories too, so nested/partitioned inputs hash
    the same on every run), hashed. Keys :func:`_served_layout`'s
    in-session and on-disk caches, so a corpus REGENERATED in place
    (the degenerate/non-ASCII sweeps rewrite ``.localdata/sfdeg``)
    rebuilds its layout instead of serving a stale one. stat() only —
    never reads data. Raises ValueError for a table that is not on
    the local filesystem (a URI scheme other than ``file:``, or no
    such path): hashing an empty listing would key every generation
    of that input the same."""
    from data_pipeline_example_spark.sources.tables import data_files, local_path

    src = local_path(f"{sf_dir}/{table}.parquet")
    if src is None:
        raise ValueError(
            f"cannot fingerprint {sf_dir}/{table}.parquet: not on the local "
            "filesystem"
        )
    parts = []
    for f in data_files(src):
        st = os.stat(f)
        parts.append(f"{os.path.relpath(f, src)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


@functools.cache
def _code_digest() -> str:
    """md5 of the package's source files (relative path and bytes, in
    sorted walk order): names the code that writes a served layout.
    Read once per process — the layout-serving queries are timed."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


# (kind, sf_dir, input fingerprint) -> on-disk path of a served layout
_SERVED_LAYOUTS: dict[tuple[str, str, str], str] = {}


def _served_layout(sf_dir: str, table: str, kind: str, parts: tuple, build) -> str:
    """Path of a layout built from ``sf_dir``'s ``table`` and served
    from ``.localdata/<kind>/<tag>`` in the checkout: cached in session
    and on disk, keyed by the input fingerprint (taken on every call,
    so a corpus REGENERATED in place, even mid-session, rebuilds its
    layout instead of serving a stale one) — never the applicationId,
    whose tags minted a fresh copy per session that was never reused.
    ``tag`` = md5 of ``sf_dir:fingerprint:`` :func:`_code_digest`, so a
    change to the code that writes the layout rebuilds it instead of
    serving what an older revision wrote. ``build(path)`` runs unless
    every ``parts`` subdirectory holds a ``_SUCCESS`` marker."""
    fp = _input_fingerprint(sf_dir, table)
    path = _SERVED_LAYOUTS.get((kind, sf_dir, fp))
    if path is None:
        key = f"{sf_dir}:{fp}:{_code_digest()}"
        tag = hashlib.md5(key.encode()).hexdigest()[:12]
        repo = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
        path = os.path.join(repo, ".localdata", kind, tag)
        if not all(os.path.isfile(os.path.join(path, p, "_SUCCESS")) for p in parts):
            build(path)
        _SERVED_LAYOUTS[(kind, sf_dir, fp)] = path
    return path


def q_packed_block_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the MATERIALIZED packing layout: writes
    ``sinks.write_packed_blocks`` (capacity 512) to a repo-local
    scratch dir — cached per sf_dir, the ANN-index precedent — then
    reads the written shards back and reports per (source, block_id)
    the stored token count, contributing docs, and the first/last
    token strings. The DuckDB oracle recomputes the same facts
    DIRECTLY from the documents table (token-level positions → block
    arithmetic), so a green row certifies the on-disk blocks byte-for-
    byte at the block-boundary granularity."""
    from data_pipeline_example_spark import sinks

    docs = load_table(spark, sf_dir, "documents")
    path = _served_layout(
        sf_dir, "documents", "packed_cache", ("blocks", "manifest"),
        lambda p: sinks.write_packed_blocks(docs, p, capacity=512),
    )
    # explicit schema — inference fails on the zero-file dataset an
    # empty corpus writes (r15 degenerate-empty sweep)
    blocks = spark.read.schema(sinks.PACKED_BLOCKS_SCHEMA).parquet(
        f"{path}/blocks"
    )
    return blocks.select(
        F.col("source").cast("string").alias("source"),
        "block_id",
        "n_docs",
        "n_tokens",
        F.element_at("tokens", 1).alias("first_token"),
        F.element_at("tokens", -1).alias("last_token"),
    ).orderBy("source", "block_id")


def q_knn_density_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-density pruning signal within capped centroid buckets."""
    return similarity.knn_density_outliers(load_table(spark, sf_dir, "embeddings"))


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-quality representative per near-dup cluster (+ singletons)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cluster_representatives(
        docs, dedup.jaccard_pairs(docs, threshold=0.1)
    )


def q_daily_revenue_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue + 7-day trailing MA over the date spine."""
    return retail.daily_revenue_ma7(_events_retail(spark, sf_dir))


def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user event-type co-occurrence (jaccard + lift)."""
    return users.event_cooccurrence(load_table(spark, sf_dir, "events"))


def q_segment_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment p50/p90/p99 via the bounded cuts helper."""
    return tpch.segment_value_percentiles(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


def q_countmin_term_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch overcount audit for the top-20 terms."""
    return text.countmin_term_error(load_table(spark, sf_dir, "documents"))


def q_event_rate_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust daily event-rate anomalies (exact integers)."""
    return users.event_rate_mad(load_table(spark, sf_dir, "events"))


def q_orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YoY revenue growth per priority over the bounded year grid."""
    return tpch.orders_yoy_growth(load_table(spark, sf_dir, "orders"))


def q_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quartile transition matrix between the two time halves."""
    return tpch.customer_migration(load_table(spark, sf_dir, "orders"))


def q_basket_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC product communities over the min-support co-purchase graph."""
    return tpch.basket_communities(load_table(spark, sf_dir, "lineitem"))


def q_product_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer-micro PageRank over the co-purchase
    graph; the oracle replays all 5 rounds as an unrolled CTE chain."""
    return tpch.product_pagerank(load_table(spark, sf_dir, "lineitem"))


def q_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands consecutive-sale-day runs per product."""
    return retail.revenue_streaks(_events_retail(spark, sf_dir))


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat (same user+type within 60 s) suppression audit."""
    return users.event_debounce(load_table(spark, sf_dir, "events"))


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution per channel (7-day lookback)."""
    return asof.attribution_last_touch(load_table(spark, sf_dir, "events"))


def q_funnel_dropoff_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 seconds between funnel stage completions."""
    return users.funnel_dropoff_time(load_table(spark, sf_dir, "events"))


def q_label_separation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise label-centroid cosines — class-separation audit."""
    return similarity.label_separation_matrix(
        load_table(spark, sf_dir, "embeddings")
    )


def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style n-gram decontamination audit: per-source overlap of
    the training split against the held-out benchmark split."""
    return text.benchmark_decontamination(load_table(spark, sf_dir, "documents"))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 characteristic terms by TF-IDF (micro-units)."""
    return text.tfidf_keywords(load_table(spark, sf_dir, "documents"))


def q_stratified_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-mod-100 train/val/test split + per-source audit."""
    return text.stratified_split_audit(load_table(spark, sf_dir, "documents"))


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix with micro shares."""
    return text.lang_confusion(load_table(spark, sf_dir, "documents"))


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingestion-epoch first-occurrence share of distinct 3-gram
    hashes: the corpus-saturation curve."""
    return text.ngram_novelty(load_table(spark, sf_dir, "documents"))


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-epoch unigram-distribution total-variation distance
    plus vocabulary churn, in exact integer micro-units."""
    return text.vocab_drift(load_table(spark, sf_dir, "documents"))


def q_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index per product: integer-cents month share
    of the product-year revenue."""
    return retail.revenue_seasonality(_events_retail(spark, sf_dir))


def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across sources — exact rank
    formulation over the per-source frame."""
    return text.token_gini(load_table(spark, sf_dir, "documents"))


def q_incremental_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM twin of the flagship: history+delta partial aggregates merged
    in integer cents; oracle is the direct single-pass GROUP BY."""
    return retail.incremental_daily_revenue(_events_retail(spark, sf_dir))


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-epoch SRP-bucket occupancy TV drift over embeddings —
    the vector twin of vocab_drift; pure per-row bucketing."""
    return similarity.embedding_drift(load_table(spark, sf_dir, "embeddings"))


def q_length_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length Pareto curve over log2 buckets — cumulative token
    share carried by the longest documents, no corpus-wide sort."""
    return text.length_pareto(load_table(spark, sf_dir, "documents"))


def q_source_gram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source gram-vocabulary containment/jaccard via one
    gram-keyed collect_set — the exact-census complement of the LSH
    source_overlap_matrix."""
    return text.source_gram_containment(load_table(spark, sf_dir, "documents"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-unigram+bigram log-odds linear classifier
    distilled from the corpus's own quality split; exact integer
    micro-nat logits."""
    return text.quality_classifier(load_table(spark, sf_dir, "documents"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction transform — typed-placeholder regexp_replace chain
    over the shared PII_PATTERNS table; zero shuffle."""
    return text.pii_redact(load_table(spark, sf_dir, "documents"))


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency slope over the top-256 term head;
    integer-exact least squares on milli-scaled logs."""
    return text.zipf_fit(load_table(spark, sf_dir, "documents"))


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability/confusion audit of the quality classifier:
    equal-width bins over the observed logit range; one integral
    division for the bin index, pure count/sum columns otherwise."""
    return text.quality_calibration(load_table(spark, sf_dir, "documents"))


def q_domain_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture plan: sqrt-temperature targets and per-source
    repeat factors (epochs) in integer micro-units."""
    return text.domain_epoch_plan(load_table(spark, sf_dir, "documents"))


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease rollup from exact count sums;
    vowel-group syllable heuristic, integral divisions only."""
    return text.readability_scores(load_table(spark, sf_dir, "documents"))


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy + vocab-normalized form;
    milli-log f terms, schoolbook integral division."""
    return text.unigram_entropy(load_table(spark, sf_dir, "documents"))


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth exponent across per-source
    (ln N, ln V) points; milli-log schoolbook regression."""
    return text.heaps_law(load_table(spark, sf_dir, "documents"))


def q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical (banded LSH) vs semantic (adaptive SRP, srp_dup_pairs)
    near-dup verdict agreement — 2x2 cells + verdict-set Jaccard."""
    from data_pipeline_example_spark import curation

    return curation.dedup_agreement(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer merge induction: first 4 merges learned from the
    corpus word counts; oracle replays each round's argmax + greedy
    fold."""
    return text.bpe_merges(load_table(spark, sf_dir, "documents"))


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merges applied corpus-wide: per-source token
    compression (folds run on the distinct-word frame only)."""
    return text.bpe_encode_stats(load_table(spark, sf_dir, "documents"))


def q_basket_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph topology: exact triangles via degree-oriented
    wedge join, wedges, integer-micro clustering coefficient."""
    return tpch.basket_graph_stats(load_table(spark, sf_dir, "lineitem"))


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing into fixed-capacity token blocks."""
    return text.sequence_pack(load_table(spark, sf_dir, "documents"))


def q_pack_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block packing audit (docs started, token mass, splits)."""
    return text.pack_block_stats(load_table(spark, sf_dir, "documents"))


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup pair counts over LSH-verified pairs."""
    return dedup.source_overlap_matrix(load_table(spark, sf_dir, "documents"))


def q_corr_length_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson r of (tokens, distinct tokens) — exact moments."""
    return text.corr_length_diversity(load_table(spark, sf_dir, "documents"))


def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descending spend deciles with cumulative revenue share."""
    return tpch.revenue_pareto(load_table(spark, sf_dir, "orders"))


def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket part-pair support + lift (capped top-50)."""
    return tpch.basket_affinity(load_table(spark, sf_dir, "lineitem"))


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation rolled up to the 4³ segment grid."""
    return tpch.customer_rfm(load_table(spark, sf_dir, "orders"))


def q_order_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 + HALF_UP mean of inter-order day gaps."""
    return tpch.order_gap_percentiles(load_table(spark, sf_dir, "orders"))


def q_cluster_representatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over banded-LSH candidate pairs — the
    scale path: the exact-jaccard twin's shingle self-join is
    output-quadratic and OOM'd the scaling harness's 8 GB single-JVM
    heap at the 5M-doc decade, while the banded index bounds
    candidates per bucket (the CC label-propagation graph is the
    remaining memory load at that scale — size the heap to the pair
    graph, or raise the jaccard threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cluster_representatives(
        docs, dedup.minhash_lsh_pairs(docs, threshold=0.1)
    )


def q_lang_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang × source) doc/token mass with corpus shares."""
    return text.lang_source_mix(load_table(spark, sf_dir, "documents"))


def q_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dominant document prefix + share — template/boilerplate
    detection; one tokenize scan, bounded-domain max_by, no window."""
    return text.boilerplate_prefixes(load_table(spark, sf_dir, "documents"))


def q_dup_distance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by ingestion-epoch distance (banded LSH pairs x
    the positional epoch axis) — the re-crawl cadence profile that
    sizes the dedup horizon."""
    return dedup.dup_distance_profile(load_table(spark, sf_dir, "documents"))


def q_token_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility drift across ingestion epochs: per-epoch
    chars/bytes-per-token micro rates + signed deltas vs the previous
    epoch (the fixed-vocab aging / retraining trigger)."""
    return text.token_fertility_drift(load_table(spark, sf_dir, "documents"))


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chars/bytes per token per source (encoding-efficiency audit)."""
    return text.token_fertility(load_table(spark, sf_dir, "documents"))


def q_ivfpq_knn_index_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query batch served from the materialized IVF-PQ index: writes
    ``write_ann_index``'s centroid-partitioned layout to a repo-local
    scratch dir (once per session × sf_dir — cached, so repeat bench
    runs pay only the serve) and serves the 4 lowest vec_ids from it
    in ONE partition-pruned read."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _served_layout(
        sf_dir, "embeddings", "ann_cache", ("index", "centroids"),
        lambda p: similarity.write_ann_index(emb, p),
    )
    qvs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    return similarity.ivfpq_knn_index_batch(spark, path, qvs)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup (Lee et al. 2022), relational form."""
    return text.substring_dedup(load_table(spark, sf_dir, "documents"))


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint selection (rightmost-min windows)."""
    return text.winnowing_fingerprints(load_table(spark, sf_dir, "documents"))


def q_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap pairs over the df-capped winnowing index."""
    return text.winnowing_overlap_pairs(load_table(spark, sf_dir, "documents"))


def q_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-capped banded SimHash pairs (the 100 TB pair path)."""
    return dedup.simhash_pairs_capped(load_table(spark, sf_dir, "documents"))


def q_containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric excerpt-duplication pairs (Broder containment)."""
    return dedup.containment_dup_pairs(load_table(spark, sf_dir, "documents"))


def q_token_budget_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget curation (group-wise histogram cuts)."""
    return text.token_budget_caps(load_table(spark, sf_dir, "documents"))


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier per part (decorrelated)."""
    return tpch.min_cost_supplier(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped important stock (integer-cents HAVING vs a
    global scalar)."""
    return tpch.important_part_stock(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped distinct-supplier count per part attributes
    (NOT-IN exclusion as broadcast anti join)."""
    return tpch.supplier_count_by_part(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_excess_shipped_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-movement suppliers (integer half-of-sum
    test)."""
    return tpch.excess_shipped_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


def q_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped top customers by returned-item revenue."""
    return tpch.returned_item_ranking(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def q_cross_modal_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source conjunction of text exact-dedup and SemDeDup keeps
    over the aligned documents/embeddings ids."""
    from data_pipeline_example_spark import curation

    return curation.cross_modal_prune(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def q_branded_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue (bounding-box
    pushdown + broadcast part)."""
    return tpch.branded_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def q_cluster_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF bucket-size health: balance factor over assign_centroids."""
    return similarity.cluster_balance_audit(
        load_table(spark, sf_dir, "embeddings")
    )


def q_vocab_nearest_typo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching: per term, the nearest other term
    within Levenshtein ≤ 2 via a length-band equi-join (typo/OCR
    consolidation audit)."""
    return text.vocab_nearest_typo(load_table(spark, sf_dir, "documents"))


def q_quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the stopword-share quality
    proxy — source-fair rank thresholding (FineWeb-style)."""
    return text.quality_quantile_normalize(
        load_table(spark, sf_dir, "documents")
    )


def q_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences, integer-milli row-normalized."""
    return users.event_markov_transitions(load_table(spark, sf_dir, "events"))


def q_user_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-deterministic HyperLogLog: explicit md5-discipline
    registers per event_type + register-wise max merge to '__all__'."""
    return users.user_cardinality_hll(load_table(spark, sf_dir, "events"))


def q_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval: BM25 top-20 + IVF-ANN top-20 fused by
    integer-micro Reciprocal-Rank Fusion, top 10."""
    from data_pipeline_example_spark import curation

    return curation.rrf_hybrid_search(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def q_ivf_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF ANN serving: one assignment scan serves the 4
    lowest-vec_id queries, per-query WindowGroupLimit top-10."""
    return similarity.ivf_knn_batch(load_table(spark, sf_dir, "embeddings"))


def q_ivfpq_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-PQ serving: shared assignment + code table, per-query
    LUT/shortlist/re-rank for the 4 lowest-vec_id queries."""
    return similarity.ivfpq_knn_batch(load_table(spark, sf_dir, "embeddings"))


def q_retrieval_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-time retrieval evaluation: recall@10 and MRR of
    ivf_knn / ivfpq_knn (row-identical to the materialized index
    serving paths) / rrf_hybrid_search against the exact knn_batch
    truth over the 4 lowest-vec_id queries."""
    from data_pipeline_example_spark import curation

    return curation.retrieval_quality(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining: hardest same-label positive + different-label
    negative per anchor within its capped sub-bucket; integer-micro
    margin."""
    return similarity.contrastive_triplets(
        load_table(spark, sf_dir, "embeddings")
    )


def q_copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the min-support co-purchase
    graph with degree-capped adjacency; integer-milli Jaccard."""
    return tpch.copurchase_link_prediction(load_table(spark, sf_dir, "lineitem"))


def q_filtered_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: IVF top-k under a label predicate with
    selectivity-widened probing."""
    return similarity.filtered_ivf_knn(load_table(spark, sf_dir, "embeddings"))


def q_event_volume_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint over daily event volume — integer-exact
    ingestion-drift monitor."""
    return users.event_volume_changepoint(load_table(spark, sf_dir, "events"))


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier groups under k members."""
    return tpch.k_anonymity_audit(load_table(spark, sf_dir, "customer"))


def q_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset: k maximally-spread vectors, integer
    micro distances, unrolled-CTE oracle."""
    return similarity.coreset_selection(load_table(spark, sf_dir, "embeddings"))


def q_embedding_dimension_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance spectrum + dead-dimension flags (collapsed
    encoder audit)."""
    return similarity.embedding_dimension_health(
        load_table(spark, sf_dir, "embeddings")
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: rolling-hash boundaries, edit-stable
    chunk hashes (FastCDC on token streams)."""
    return text.cdc_chunks(load_table(spark, sf_dir, "documents"))


def q_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI of total event revenue — all
    replicates in one scan, md5-derived weights."""
    return users.bootstrap_revenue_ci(load_table(spark, sf_dir, "events"))


def q_basket_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core backbone of the co-purchase graph: fixed simultaneous
    peeling rounds, unrolled-CTE oracle."""
    return tpch.basket_kcore(load_table(spark, sf_dir, "lineitem"))


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of last-month / same-month-last-year
    revenue baselines: integral MAPE + bias."""
    return tpch.forecast_backtest(load_table(spark, sf_dir, "lineitem"))


def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type vs value —
    leakage-guarded categorical feature, exact milli-cents."""
    return users.loo_target_encoding(load_table(spark, sf_dir, "events"))


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys as event-type trigrams (double lag, bounded
    path domain)."""
    return users.event_trigrams(load_table(spark, sf_dir, "events"))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per anchor the most-similar DIFFERENT-label
    vector within its hard-capped sub-bucket (contrastive pair
    construction; approximate recall, exact precision)."""
    return similarity.hard_negatives(load_table(spark, sf_dir, "embeddings"))


def q_clustering_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified cosine silhouette over the fixed-centroid
    assignment — sign-split integer-micro ratios, WindowGroupLimit
    pre-trimmed top-2 ranks."""
    return similarity.clustering_silhouette(
        load_table(spark, sf_dir, "embeddings")
    )


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV pre-join cardinality estimate (orders ⋈ customer keys) with
    the exact intersection alongside."""
    return users.join_size_estimate(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        load_table(spark, sf_dir, "customer"),
        "c_custkey",
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis: heavy hitters + skew factor."""
    return users.skew_report(load_table(spark, sf_dir, "events"))


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document curation funnel: survivors after each stage of
    URL-canonical dedup → page gate → line dedup → exact dedup →
    decontamination → gopher."""
    from data_pipeline_example_spark import curation

    return curation.corpus_funnel(load_table(spark, sf_dir, "documents"))


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning transform: surviving pages with cleaned text.
    Relaxed line/page gates so the single-line synthetic corpus
    certifies a non-vacuous transform (strict C4 defaults are
    unit-test-pinned)."""
    return text.c4_clean(
        load_table(spark, sf_dir, "documents"),
        require_terminal=False,
        min_kept_lines=1,
    )


def q_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training corpus after eval-overlap decontamination."""
    return dedup.decontaminated_corpus(load_table(spark, sf_dir, "documents"))


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold operating curve for dedup tuning."""
    return dedup.dedup_threshold_curve(load_table(spark, sf_dir, "documents"))


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace bigram-LM document NLL in exact micro-bits."""
    return text.bigram_lm_scores(load_table(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles via histogram cuts."""
    return text.ccnet_buckets(load_table(spark, sf_dir, "documents"))


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate against the corpus top-1000 vocabulary."""
    return text.oov_rate(load_table(spark, sf_dir, "documents"))


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-bigram importance weights against the corpus's own
    high-quality slice."""
    return text.dsir_weights(load_table(spark, sf_dir, "documents"))


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap by quality rank (RefinedWeb-style domain limiter)."""
    return text.source_caps(load_table(spark, sf_dir, "documents"))


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-fill audit of the token-budget packer."""
    return text.packing_efficiency(load_table(spark, sf_dir, "documents"))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide C4-style line dedup with document reassembly —
    boilerplate lines removed at all but their first occurrence."""
    return text.line_dedup(load_table(spark, sf_dir, "documents"))


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule attrition funnel over the Gopher + C4 quality gates:
    n_fail / n_sole_fail / cumulative survivors per rule."""
    return text.quality_funnel(load_table(spark, sf_dir, "documents"))


def q_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa between the four quality gates per
    source (Gopher, C4 page, heuristic score, metadata lang) — closed
    integer-milli form, one aggregate per source."""
    return text.gate_agreement(load_table(spark, sf_dir, "documents"))


def q_unicode_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode trust-and-safety census per source: replacement chars,
    C0/DEL controls, zero-width chars, bidi controls — docs affected,
    total occurrences, milli rates; one scan, one aggregate."""
    return text.unicode_hygiene(load_table(spark, sf_dir, "documents"))


def q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform companion to the unicode_hygiene census: strip
    zero-width/bidi/C0 controls in place, drop U+FFFD mojibake lines,
    drop docs that are mostly mojibake — one scan, zero shuffle."""
    return text.unicode_clean(load_table(spark, sf_dir, "documents"))


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-group-aware train/val/test split assignment with the
    near-dup leakage audit of the naive per-doc policy."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup.dedup_clusters(dedup.jaccard_pairs(docs, threshold=0.1))
    return dedup.split_leakage_audit(docs, clusters)


# Registry order is part of the driver contract: the driver's correctness
# gate samples the FIRST 50 entries (round-1 lesson — the extension surface
# was registered past the window and got zero driver-green rows). The top
# 50 therefore carries every LLM-pipeline extension (text/dedup/similarity/
# multimodal/profiling) plus the flagship and one representative of each
# reference-parity family; compositions of already-certified operators
# (per_day_totals, sample_rows, the remaining TPC-H derivatives) sit in the
# tail, where they still run in bench/tests and local oracle validation.
QUERIES: dict[str, QueryFn] = {
    # (the flagship daily_revenue sits in the tail: it is served by
    # entry() and was driver-certified in round 1, so its window slot
    # goes to a never-certified query — the window rotates each round
    # until every SQL-oracled query has a driver-green row)
    # round-3 front: changed this round (value_stats tz-invariance,
    # pack_documents oracle cast), never-driver-certified (srp added
    # after the r2 window froze; the two rows-only ops), and new ops
    # round-4 front: new capped embedding ops, new quality gates, and
    # the r4-changed queries
    # round-5 front: the queries CHANGED this round (sole_return_
    # suppliers rewritten with per-order pre-aggregation; the capped
    # embedding ops + srp_dup_pairs moved to broadcast centroids /
    # fold-order cosines) and the new real-decode query; gopher_quality
    # and c4_line_stats rotated out (r4-certified, untouched since)
    # round-5 continuation: three new never-certified ops front the
    # window (line_dedup, quality_funnel, split_leakage_audit);
    # kpis_long / top_bigrams / tfidf_top_terms rotate out to the tail
    # (r4-certified, implementations untouched since)
    # round-6 front: the four NEW TPC-H shapes (Q2/Q11/Q16/Q20), the
    # r6-CHANGED queries (user_reach_rollup now KMV hash-oracled;
    # corpus_funnel single-scan; customer_spend_distribution +
    # customer_value_tiles de-windowed cuts; dedup_threshold_curve
    # zero-threshold rows; join_size_estimate integer estimate; ivf_knn
    # literal-SQL plan build; returned_item_ranking AQE join), then the
    # r5-certified window remainder; rotated to the tail (ALL r5-green
    # in CORRECTNESS_r05 and untouched since): packing_efficiency,
    # decontaminated_corpus, skew_report, cluster_balance_audit,
    # branded_quantity_revenue, cross_modal_prune, local_supplier_volume,
    # ccnet_mixture, sole_return_suppliers, corpus_dup_ngrams,
    # audio_dup_windows, semantic_prune, embedding_prototypes,
    # length_buckets
    # round-7 front: the NEW batched index-serving ANN query, then the
    # r7-CHANGED queries (cuts family on the bounded range-offset
    # helper: customer_spend_distribution, customer_value_tiles,
    # token_budget_caps, length_buckets; winnowing de-joined argmin;
    # excess_shipped_suppliers per-row integer cast), then the r6 front
    # remainder
    # round-7 continuation front: the three NEW retail-analytics ops
    # (association rules, RFM via the third cuts production site, exact
    # inter-order gap percentiles), then the r7-CHANGED queries
    # (length_buckets + customer_value_tiles migrated onto the shared
    # ntile_expr formula — already in-window below)
    # round-8 front: NEW ops (batched BM25, packed-block audit), then
    # the r8-CHANGED queries (capped embedding family on hierarchical
    # two-level assignment)
    # round-8 continuation front: the three NEW event/retail-analytics
    # ops (islands streaks, debounce audit, last-touch attribution)
    "revenue_streaks": q_revenue_streaks,
    "event_debounce": q_event_debounce,
    "attribution_last_touch": q_attribution_last_touch,
    "funnel_dropoff_time": q_funnel_dropoff_time,
    "label_separation_matrix": q_label_separation_matrix,
    "benchmark_decontamination": q_benchmark_decontamination,
    "tfidf_keywords": q_tfidf_keywords,
    "stratified_split_audit": q_stratified_split_audit,
    "lang_confusion": q_lang_confusion,
    "ngram_novelty": q_ngram_novelty,
    "vocab_drift": q_vocab_drift,
    "length_pareto": q_length_pareto,
    "source_gram_containment": q_source_gram_containment,
    "embedding_drift": q_embedding_drift,
    "incremental_daily_revenue": q_incremental_daily_revenue,
    "revenue_seasonality": q_revenue_seasonality,
    "token_gini": q_token_gini,
    # round-11 new ops: the model-based quality gate and the PII
    # redaction transform twin
    "quality_classifier": q_quality_classifier,
    "pii_redact": q_pii_redact,
    "zipf_fit": q_zipf_fit,
    "quality_calibration": q_quality_calibration,
    "domain_epoch_plan": q_domain_epoch_plan,
    "readability_scores": q_readability_scores,
    "unigram_entropy": q_unigram_entropy,
    "dedup_agreement": q_dedup_agreement,
    "heaps_law": q_heaps_law,
    "product_pagerank": q_product_pagerank,
    "bpe_merges": q_bpe_merges,
    "bpe_encode_stats": q_bpe_encode_stats,
    "basket_graph_stats": q_basket_graph_stats,
    "bm25_batch": q_bm25_batch,
    "packed_block_audit": q_packed_block_audit,
    "minhash_incremental": q_minhash_incremental,
    "basket_affinity": q_basket_affinity,
    "customer_rfm": q_customer_rfm,
    "order_gap_percentiles": q_order_gap_percentiles,
    "source_overlap_matrix": q_source_overlap_matrix,
    "countmin_term_error": q_countmin_term_error,
    "event_rate_mad": q_event_rate_mad,
    "orders_yoy_growth": q_orders_yoy_growth,
    "customer_migration": q_customer_migration,
    "basket_communities": q_basket_communities,
    "sequence_pack": q_sequence_pack,
    "pack_block_stats": q_pack_block_stats,
    "corr_length_diversity": q_corr_length_diversity,
    "revenue_pareto": q_revenue_pareto,
    "ivfpq_knn_index_batch": q_ivfpq_knn_index_batch,
    "gopher_repetition": q_gopher_repetition,
    "pii_scan": q_pii_scan,
    "source_temperature_weights": q_source_temperature_weights,
    "bm25_search": q_bm25_search,
    "cluster_representatives": q_cluster_representatives,
    "cluster_representatives_lsh": q_cluster_representatives_lsh,
    "segment_value_percentiles": q_segment_value_percentiles,
    "daily_revenue_ma7": q_daily_revenue_ma7,
    "event_cooccurrence": q_event_cooccurrence,
    "lang_source_mix": q_lang_source_mix,
    "token_fertility": q_token_fertility,
    "token_fertility_drift": q_token_fertility_drift,
    "boilerplate_prefixes": q_boilerplate_prefixes,
    "dup_distance_profile": q_dup_distance_profile,
    "clustering_silhouette": q_clustering_silhouette,
    "cluster_coherence": q_cluster_coherence,
    "hard_negatives": q_hard_negatives,
    "vocab_nearest_typo": q_vocab_nearest_typo,
    "quality_quantile_normalize": q_quality_quantile_normalize,
    "event_markov_transitions": q_event_markov_transitions,
    "user_cardinality_hll": q_user_cardinality_hll,
    "rrf_hybrid_search": q_rrf_hybrid_search,
    "retrieval_quality": q_retrieval_quality,
    "ivf_knn_batch": q_ivf_knn_batch,
    "ivfpq_knn_batch": q_ivfpq_knn_batch,
    "contrastive_triplets": q_contrastive_triplets,
    "copurchase_link_prediction": q_copurchase_link_prediction,
    "filtered_ivf_knn": q_filtered_ivf_knn,
    "event_volume_changepoint": q_event_volume_changepoint,
    "k_anonymity_audit": q_k_anonymity_audit,
    "coreset_selection": q_coreset_selection,
    "embedding_dimension_health": q_embedding_dimension_health,
    "cdc_chunks": q_cdc_chunks,
    "bootstrap_revenue_ci": q_bootstrap_revenue_ci,
    "basket_kcore": q_basket_kcore,
    "forecast_backtest": q_forecast_backtest,
    "loo_target_encoding": q_loo_target_encoding,
    "event_trigrams": q_event_trigrams,
    "knn_density_outliers": q_knn_density_outliers,
    # moved up from the embedding tail: the whole capped family's
    # centroid assignment went hierarchical (two-level) this round, so
    # their OUTPUT changed and all three must re-certify in-window
    "semantic_prune_capped": q_semantic_prune_capped,
    "nearest_neighbor_capped": q_nearest_neighbor_capped,
    # length_buckets moved up from the tail: its cuts path was
    # rewritten onto the bounded range-offset helper this round,
    # so it must sit inside the 50-entry window
    "length_buckets": q_length_buckets,
    "knn_batch": q_knn_batch,
    "substring_dedup": q_substring_dedup,
    "winnowing_fingerprints": q_winnowing_fingerprints,
    "winnowing_overlap_pairs": q_winnowing_overlap_pairs,
    "simhash_pairs_capped": q_simhash_pairs_capped,
    "containment_dup_pairs": q_containment_dup_pairs,
    "token_budget_caps": q_token_budget_caps,
    "min_cost_supplier": q_min_cost_supplier,
    "important_part_stock": q_important_part_stock,
    "supplier_count_by_part": q_supplier_count_by_part,
    "excess_shipped_suppliers": q_excess_shipped_suppliers,
    "user_reach_rollup": q_user_reach_rollup,
    "corpus_funnel": q_corpus_funnel,
    "customer_spend_distribution": q_customer_spend_distribution,
    "customer_value_tiles": q_customer_value_tiles,
    "dedup_threshold_curve": q_dedup_threshold_curve,
    "join_size_estimate": q_join_size_estimate,
    "ivf_knn": q_ivf_knn,
    "returned_item_ranking": q_returned_item_ranking,
    "gopher_quality": q_gopher_quality,
    # r6 AQE customer-join sweep (plan-only change, results identical;
    # in-window per the rotation rule):
    "top_revenue_orders": q_top_revenue_orders,
    "customer_nation_revenue": q_customer_nation_revenue,
    "volume_shipping": q_volume_shipping,
    "market_share": q_market_share,
    "local_supplier_volume": q_local_supplier_volume,
    "line_dedup": q_line_dedup,
    "quality_funnel": q_quality_funnel,
    "gate_agreement": q_gate_agreement,
    "unicode_hygiene": q_unicode_hygiene,
    "unicode_clean": q_unicode_clean,
    "split_leakage_audit": q_split_leakage_audit,
    "dsir_weights": q_dsir_weights,
    "source_caps": q_source_caps,
    "bigram_lm_scores": q_bigram_lm_scores,
    "ccnet_buckets": q_ccnet_buckets,
    "oov_rate": q_oov_rate,
    "c4_clean": q_c4_clean,
    "cross_modal_prune": q_cross_modal_prune,
    "image_phash_stats": q_image_phash_stats,
    "phash_dup_pairs": q_phash_dup_pairs,
    "audio_dup_windows": q_audio_dup_windows,
    "srp_dup_pairs": q_srp_dup_pairs,
    # --- text analysis extensions ---
    # --- dedup extensions ---
    # --- similarity search extensions ---
    "embedding_centroids": q_embedding_centroids,
    "nearest_neighbor_blocked": q_nearest_neighbor_blocked,
    "project_embeddings": q_project_embeddings,
    "pq_codes": q_pq_codes,
    "ivfpq_knn": q_ivfpq_knn,
    "user_cardinality_kmv": q_user_cardinality_kmv,
    "user_cardinality_kmv_by_type": q_user_cardinality_kmv_by_type,
    "priority_sample": q_priority_sample,
    # --- multimodal plumbing ---

    # --- chunking / provenance curation ---
    # --- sampling / pruning extensions ---
    # --- event analytics extensions ---
    # ---------------- end of the driver's 50-entry window ----------------
    # (chunk_dedup_stats, source_blocklist_summary, chunk_documents and
    # mixture_sample rotated out r4 — all r3-driver-green — to make room
    # for the capped embedding ops and the Gopher/C4 quality gates;
    # gopher_quality + c4_line_stats + value_stats rotated out r5, all
    # r4-green; redact_pii + mixture_rates rotated out mid-r5 (r4-green)
    # to make window room for the new project_embeddings + pq_codes;
    # kpis_long + top_bigrams + tfidf_top_terms rotated out late-r5,
    # all r4-green untouched, for line_dedup / quality_funnel /
    # split_leakage_audit; dup_ngram_fraction + props_variant_stats +
    # audio_windows rotated out for dsir_weights / source_caps /
    # packing_efficiency; nation_actor_presence + contamination_pairs +
    # exact_dedup rotated out for bigram_lm_scores / ccnet_buckets /
    # oov_rate; jaccard_pairs + simhash_signatures + knn_bruteforce
    # rotated out for c4_clean / decontaminated_corpus /
    # dedup_threshold_curve; dedup_summary + minhash_jaccard_estimates
    # rotated out for corpus_funnel + skew_report; lsh_recall_summary +
    # dedup_clusters rotated out for cluster_balance_audit +
    # join_size_estimate; minhash_lsh_pairs rotated out for
    # branded_quantity_revenue; simhash_pairs + cosine_dup_pairs
    # rotated out for returned_item_ranking + cross_modal_prune;
    # nearest_neighbor + quantize_embeddings rotated out for
    # local_supplier_volume + ccnet_mixture — same rule)
    "packing_efficiency": q_packing_efficiency,
    "decontaminated_corpus": q_decontaminated_corpus,
    "skew_report": q_skew_report,
    "cluster_balance_audit": q_cluster_balance_audit,
    "branded_quantity_revenue": q_branded_quantity_revenue,
    "ccnet_mixture": q_ccnet_mixture,
    "kmeans_embeddings": q_kmeans_embeddings,
    "cosine_dup_pairs_blocked": q_cosine_dup_pairs_blocked,
    "semantic_prune": q_semantic_prune,
    "corpus_dup_ngrams": q_corpus_dup_ngrams,
    "embedding_prototypes": q_embedding_prototypes,
    "ivfpq_recall": q_ivfpq_recall,
    "srp_recall_summary": q_srp_recall_summary,
    "corpus_diff": q_corpus_diff,
    "corpus_diff_summary": q_corpus_diff_summary,
    "pq_distortion": q_pq_distortion,
    "sole_return_suppliers": q_sole_return_suppliers,
    "decoded_image_stats": q_decoded_image_stats,
    "decoded_audio_stats": q_decoded_audio_stats,
    "decoded_aiff_stats": q_decoded_aiff_stats,
    "wav_dup_windows": q_wav_dup_windows,
    "kpis_long": q_kpis_long,
    "nearest_neighbor": q_nearest_neighbor,
    "quantize_embeddings": q_quantize_embeddings,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "cosine_dup_pairs": q_cosine_dup_pairs,
    "lsh_recall_summary": q_lsh_recall_summary,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_scalable": q_dedup_clusters_scalable,
    "url_canonical_dedup": q_url_canonical_dedup,
    "dedup_summary": q_dedup_summary,
    "minhash_jaccard_estimates": q_minhash_jaccard_estimates,
    "jaccard_pairs": q_jaccard_pairs,
    "simhash_signatures": q_simhash_signatures,
    "knn_bruteforce": q_knn_bruteforce,
    "top_bigrams": q_top_bigrams,
    "nation_actor_presence": q_nation_actor_presence,
    "contamination_pairs": q_contamination_pairs,
    "exact_dedup": q_exact_dedup,
    "dup_ngram_fraction": q_dup_ngram_fraction,
    "props_variant_stats": q_props_variant_stats,
    "audio_windows": q_audio_windows,
    "embedding_profile": q_embedding_profile,
    "lang_mixture": q_lang_mixture,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "lang_predict": q_lang_predict,
    "doc_fingerprints": q_doc_fingerprints,
    "token_counts": q_token_counts,
    "curated_corpus": q_curated_corpus,
    "pack_documents": q_pack_documents,
    "redact_pii": q_redact_pii,
    "mixture_rates": q_mixture_rates,
    "media_features": q_media_features,
    "frame_samples": q_frame_samples,
    "tfidf_top_terms": q_tfidf_top_terms,
    "repetition_stats": q_repetition_stats,
    "c4_line_stats": q_c4_line_stats,
    "value_stats": q_value_stats,
    "chunk_documents": q_chunk_documents,
    "chunk_dedup_stats": q_chunk_dedup_stats,
    "source_blocklist_summary": q_source_blocklist_summary,
    "mixture_sample": q_mixture_sample,
    "stratified_sample": q_stratified_sample,
    "reservoir_sample": q_reservoir_sample,
    "value_quantile_sketch": q_value_quantile_sketch,
    "bloom_pruned_brand_volume": q_bloom_pruned_brand_volume,
    "value_anomalies": q_value_anomalies,
    "retention_cohorts": q_retention_cohorts,
    "event_funnel": q_event_funnel,
    "range_join_counts": q_range_join_counts,
    # (everything below was driver-certified in round 1 or 2, or is a
    # composition of certified operators; all remain locally verified by
    # tools/validate_oracle.py every round)
    "frequent_terms": q_frequent_terms,
    "unigram_scores": q_unigram_scores,
    "curation_summary": q_curation_summary,
    # --- profiling / splits / sketches ---
    "props_key_stats": q_props_key_stats,
    "day_over_day_revenue": q_day_over_day_revenue,
    "value_percentiles": q_value_percentiles,
    "daily_revenue": q_daily_revenue,
    "value_histogram": q_value_histogram,
    "hash_split_summary": q_hash_split_summary,
    "events_profile": q_events_profile,
    "salted_event_totals": q_salted_event_totals,
    "user_cardinality_exact": q_user_cardinality_exact,
    "sliding_window_revenue": q_sliding_window_revenue,
    "user_sessions": q_user_sessions,
    "asof_last_view": q_asof_last_view,
    "pricing_summary": q_pricing_summary,
    "kpis": q_kpis,
    "events_json_conform": q_events_json_conform,
    "rolling_revenue_7d": q_rolling_revenue_7d,
    "latest_window_leaderboard": q_latest_window_leaderboard,
    "window_health": q_window_health,
    "timeline_points": q_timeline_points,
    "window_summary_stats": q_window_summary_stats,
    "per_day_totals": q_per_day_totals,
    "top_products": q_top_products,
    "sample_rows": q_sample_rows,
    "supplier_nation_revenue": q_supplier_nation_revenue,
    "order_priority_count": q_order_priority_count,
    "brand_volume": q_brand_volume,
    "segment_stats": q_segment_stats,
    "customer_order_distribution": q_customer_order_distribution,
    "promo_revenue_share": q_promo_revenue_share,
    "lapsed_customers": q_lapsed_customers,
    "fulfilled_customers_by_nation": q_fulfilled_customers_by_nation,
    "large_orders": q_large_orders,
    "top_supplier_per_nation": q_top_supplier_per_nation,
    "revenue_rollup": q_revenue_rollup,
    "high_value_churn": q_high_value_churn,
    "high_value_retained": q_high_value_retained,
    "small_quantity_revenue": q_small_quantity_revenue,
    "forecast_revenue": q_forecast_revenue,
    "product_profit": q_product_profit,
    "top_supplier": q_top_supplier,
    "discount_eligible_revenue": q_discount_eligible_revenue,
    "shipment_delay_by_priority": q_shipment_delay_by_priority,
    "idle_rich_customers": q_idle_rich_customers,
    "first_last_order_value": q_first_last_order_value,
    "returns_cube": q_returns_cube,
    "priority_revenue_pivot": q_priority_revenue_pivot,
}

# round-10 window rotation — MECHANICAL this round (the r9 ADVICE found
# hand-edited ordering drifts): the front 50 is computed from the
# CORRECTNESS_r*.json history as the 41 least-recently-certified
# entries (r1-certified reference-parity queries — none has had a
# driver-green row since round 1; hash_split_summary/events_profile
# yield their slots to this round's new ops and rotate next), plus
# basket_affinity (the r10 brief item 1 requires a fresh driver-green
# row alongside the scaling re-measurement), plus the eight NEW r10
# ops (ngram_novelty, vocab_drift, length_pareto,
# source_gram_containment, embedding_drift, incremental_daily_revenue,
# revenue_seasonality, token_gini — never driver-certified). Every
# name is asserted present so a typo fails at import, not silently
# shrinks the window.
# round-11 window rotation — mechanical again: the nine NEW r11 ops
# round-12 front: the eight NEW r12 ops (never driver-certified), the
# r12-CHANGED corpus_funnel (url_canonical is now its stage 2 — output
# grew to 7 rows, so the r6 certification no longer covers it), then
# the 41 least-recently-certified entries per the CORRECTNESS_r*.json
# hash_match history: the full r4 cohort remainder (16), the full r5
# cohort (18), and the oldest 7 of the r6 cohort in registry order
# (bigram_lm_scores, ccnet_buckets, oov_rate, c4_clean +
# cross_modal_prune yield their slots to the five extra r12 ops and
# head next round's rotation).
# Derivation (mechanical): for
# each name take the max round with hash_match=true across
# CORRECTNESS_r01..r11, sort ascending with ties by registry position.
# readability_scores' r12 overflow fix is value-identical (schoolbook
# split), so its r11 row stands.
# round-13 front — mechanical again: the four NEW r13 ops (never
# driver-certified), the five r13-CHANGED ops whose engine/oracle text
# moved this round (media_features' schema swapped fake_* for the real
# decode-attempt columns; user_cardinality_hll gained the p_bits-driven
# split + 'unknown' sentinel + 2^(W+1) scaling with a matching oracle;
# readability_scores' ratio columns moved to the two-step division;
# embedding_dimension_health's oracle now derives dims from the vector;
# audio_windows grew the RIFF container branch), then the 41
# least-recently-certified entries by the CORRECTNESS_r01..r12
# hash_match history (max certified round ascending, ties by registry
# position): the r5 cohort remainder (11, decontaminated_corpus …
# decoded_image_stats) through the r6 cohort and the first six r7
# entries. Every name asserted present so a typo fails at import.
# round-14 front — mechanical again (same derivation: max hash_match
# round per name across CORRECTNESS_r01..r13, ascending, ties by
# registry position): the three NEW r14 ops (decoded_aiff_stats,
# gate_agreement, unicode_hygiene — never driver-certified), the two r14-CHANGED ops
# (audio_windows gained the RIFF/FORM degrade-to-raw fallback;
# media_features' decode attempt is now gated on the _IMAGE_MAGICS
# whitelist), then the 45 least-recently-certified entries: the full
# r7-certified remainder (12: excess_shipped_suppliers …
# volume_shipping) and the oldest 33 of the r9 cohort in registry
# order (cluster_representatives onward head the r15 rotation).
# The r13 window (its list replaced here) re-certified the r5/r6
# cohorts; every name asserted present so a typo fails at import.
# round-15 front — mechanical again (same derivation: max hash_match
# round per name across CORRECTNESS_r01..r14, ascending, ties by
# registry position): the one NEW r15 op (unicode_clean — never
# driver-certified), the 15 r15-CHANGED ops whose engine/oracle text
# moved in the degenerate-corpus sweep (explicit NULL-event-time drops
# in the windows/sessions/day-over-day/CUSUM family; corpus_funnel's
# NULL-canon keeper rule; the census trio moved off the guarded
# embedding funnel; ivfpq_knn_index_batch's tiny-corpus degradation;
# packed_block_audit's declared read schema; the empty-input HAVING
# pins on order_gap_percentiles / revenue_rollup / returns_cube),
# then the 34 least-recently-certified entries: the full r9-certified
# cohort remainder (cluster_representatives … simhash_pairs_capped,
# as r14's close predicted) and the r10 cohort head. The embedding
# compute family's valid_embeddings guard also landed this round —
# knn_density_outliers / semantic_prune_capped / nearest_neighbor_
# capped / knn_batch / embedding_drift are in-window via the r9/r10
# cohorts, double-covering it. Every name asserted present so a typo
# fails at import, not silently shrinks the window.
# ANN retrieval-core rewrite (same derivation): the eight queries whose
# IVF / IVF-PQ serving code moved onto the one batched core join the
# changed group (ivfpq_knn_index_batch already sat there), and the
# eight most-recently-certified names of the tail (the end of the r10
# cohort head: value_histogram … rolling_revenue_7d) make room.
# One connected-components core (same derivation): the twelve queries
# whose code path moved — the CC callers now on min-label propagation,
# the five co-purchase graph ops on the one edge build, and the two
# BM25 ops on the one scorer — join the changed group, and the twelve
# most-recently-certified names of the tail (the whole r10 cohort head
# and the last two of the r9 remainder) make room.
# One exact-neighbor core (same derivation): the thirteen queries whose
# code path moved — the exact top-k on the one scorer, the in-bucket
# family on the one kernel, srp_dup_pairs without its fold twin, the
# two disk-checkpointed text ops and the NULL-first Markov order — form
# the newest changed group (five of them move up from the r9
# remainder), and the eight most-recently-certified names left in the
# tail (cluster_representatives_lsh … winnowing_fingerprints) make room.
# One keyed-state core (same derivation): the two batch anchors whose
# NULL-user key moved onto the shared ``users.user_key`` join as the
# newest changed group. No cohort tail is left, so the two most
# recently certified names of the r15 changed group whose code has not
# moved since that certification (order_gap_percentiles,
# embedding_dimension_health — r16 hash, latest registry positions)
# make room.
# One audio decode-and-window core (same derivation): the five audio
# queries whose code path moved onto the one container dispatch, chunk
# walker, window slicer and window digest join as the newest changed
# group; the five most recently certified names of the r15 changed
# group whose code has not moved since (returns_cube,
# quantize_embeddings, embedding_profile, day_over_day_revenue,
# event_volume_changepoint — r16 hash, latest registry positions) make
# room. corpus_funnel (the shared line rule and key),
# packed_block_audit and ivfpq_knn_index_batch (the shared served-
# layout cache) moved this round too and stay.
# One word rule and one word-gram builder (same derivation): the
# thirteen queries whose n-gram construction moved onto
# ``functions.text.word_grams`` and are not yet in the window join as
# the newest changed group (corpus_funnel, substring_dedup and
# gopher_repetition moved too and stay). The six names of the r15
# changed group whose code has not moved since (unicode_clean …
# revenue_rollup) and the seven latest-registered names of the ANN
# retrieval-core group (retrieval_quality … ivfpq_recall; all
# certified in every round since they changed) make room.
# One candidate-pair core (same derivation): the thirteen queries whose
# pair build moved onto ``dedup.band_join`` / ``dedup.shared_key_pairs``,
# or whose optimized plan changed with the shingle filter, and are not
# yet in the window join as the newest changed group (cluster_coherence,
# winnowing_overlap_pairs and the four CC names that read
# jaccard_pairs / minhash_lsh_pairs moved too and stay). The oldest
# names whose code has not moved since make room: rrf_hybrid_search,
# the seven graph and BM25 names of the CC-core group
# (basket_communities … bm25_batch) and the first five of the
# exact-neighbor group (knn_bruteforce … nearest_neighbor_capped).
# One md5-integer hash and sketch core (same derivation): the sixteen
# queries whose hash, sketch or served-layout code moved and are not yet
# in the window join as the newest changed group (quality_classifier,
# the two winnowing names, dsir_weights and packed_block_audit moved
# too and stay). The sixteen oldest names whose code has not moved
# since make room (gopher_repetition … corpus_dup_ngrams).
_R15_FRONT = [
    # (ascending last-certified round, ties by position)
    # changed by the one word rule / word-gram builder
    "top_bigrams", "dup_ngram_fraction",
    "repetition_stats",
    # changed by the one candidate-pair core / shingle filter
    "jaccard_pairs", "containment_dup_pairs", "minhash_lsh_pairs",
    "minhash_jaccard_estimates", "minhash_incremental", "simhash_pairs",
    "simhash_pairs_capped", "phash_dup_pairs", "lsh_recall_summary",
    "source_overlap_matrix", "dedup_agreement",
    "dedup_threshold_curve", "dup_distance_profile",
    # changed by the one cuts core (totals as columns) and the 64-bit
    # SRP signature
    "customer_spend_distribution", "customer_value_tiles",
    "segment_value_percentiles", "customer_rfm", "order_gap_percentiles",
    "revenue_pareto", "customer_migration", "funnel_dropoff_time",
    "length_buckets", "token_budget_caps", "sequence_pack",
    "pack_block_stats", "embedding_drift",
    # changed by the one md5-integer hash and sketch core (and the
    # served layouts keyed by the code digest)
    "quality_classifier", "winnowing_fingerprints",
    "winnowing_overlap_pairs", "dsir_weights", "packed_block_audit",
    "hash_split_summary", "stratified_sample", "mixture_sample",
    "ccnet_mixture", "split_leakage_audit", "priority_sample",
    "stratified_split_audit", "cdc_chunks", "doc_fingerprints",
    "user_cardinality_kmv", "user_cardinality_kmv_by_type",
    "user_reach_rollup", "join_size_estimate", "user_cardinality_hll",
    "countmin_term_error", "ivfpq_knn_index_batch",
]
assert len(_R15_FRONT) == 50 and all(n in QUERIES for n in _R15_FRONT), (
    "window rotation list must name 50 registered queries"
)
QUERIES = {
    **{n: QUERIES[n] for n in _R15_FRONT},
    **{n: f for n, f in QUERIES.items() if n not in frozenset(_R15_FRONT)},
}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The flagship query (SURVEY.md §7.1): daily revenue per product."""
    return q_daily_revenue(spark, sf_dir)
