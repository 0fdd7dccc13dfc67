"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query key; the driver compares
row-count + schema + order-insensitive value-hash at sf0.01.

Column-name discipline: every computed column is aliased identically in the
Spark code and the oracle SQL. Float aggregates are rounded in both engines
so summation-order differences can't flip the value hash; exact medians
return actual data elements and are hash-stable without rounding.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rocana_impala_udfs_spark import register_all
from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

# transformWithStateInPandas workers import google.protobuf; activating the
# vendored shim at import time puts it on PYTHONPATH before the hosting
# harness launches its JVM (workers inherit the JVM's launch environment).
ensure_protobuf()
from rocana_impala_udfs_spark.plans import relational
from rocana_impala_udfs_spark.plans.medians import MEDIAN_ORACLE, MEDIAN_QUERIES
from rocana_impala_udfs_spark.plans.pipeline import PIPELINE_ORACLE, PIPELINE_QUERIES
from rocana_impala_udfs_spark.plans.temporal import TEMPORAL_ORACLE, TEMPORAL_QUERIES
from rocana_impala_udfs_spark.plans.tpch import TPCH_ORACLE, TPCH_QUERIES
from rocana_impala_udfs_spark.sources.io import register_temp_views

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: bounded-median of lineitem extended price per return flag,
    via the reservoir operator — the JVM Aggregator's partial+final
    aggregation (the reference's one function, distributed the reference's
    way)."""
    register_all(spark)
    register_temp_views(spark, SF_SMOKE)
    return MEDIAN_QUERIES["appx_median_price_by_returnflag"](spark, SF_SMOKE)


# Ordering is deliberate: the driver's correctness run truncates on a time
# budget (~50 keys/round), so the front is scheduled, not arbitrary.
# STANDING RULE (VERDICT r15 #6 — age-based rotation): each round the
# front lists, in order, (1) keys NEW or with changed executed code this
# round, then (2) the keys whose latest driver-checked row is OLDEST
# across the CORRECTNESS_r* union, oldest first, enough to fill the ~50
# budget — so no green row ages past ~10 rounds — then (3) the
# weak-by-design keys (rows-only is their best evidence; they absorb any
# over-budget truncation harmlessly). Recompute (2) each round from the
# committed CORRECTNESS_r*.json artifacts (max round per key).
#
# Round-16 front (every key entered r16 hash-green on its latest row —
# VERDICT r15: 334/334 oracle keys green across the r1–r15 union):
_NEVER_DRIVER_CHECKED = [
    # (1) Changed executed code in r17 (optimization round 2): the four
    # eval scorecards were collapsed to single-job method-union plans; the
    # ANN method operators build their re-rank cosine and LSH stack as one
    # parsed expression (bit-identical, pinned in pytest); the SimHash
    # fingerprint family routes through the shared ensure_parallelism
    # helper; the EWMA fold is the numpy form of the same IEEE chain; the
    # tws keys run under RocksDB changelog checkpointing; the restart key
    # threads its staged replay dir into the state-partition autosizer.
    "eval_mrr_report",
    "eval_ndcg_report",
    "ann_recall_report",
    "eval_matryoshka_recall",
    "ann_lsh_top5",
    "ann_ivf_fixed_top5",
    "dedup_simhash_pairs",
    "text_fingerprints",
    "multimodal_frame_fingerprints",
    "repetition_scores",
    "stream_ewma_user_value",
    "stream_tws_ewma_user_value",
    "stream_tws_warm_start_ewma",
    "stream_tws_bitmap_map_state",
    "stream_tws_topk_list_state",
    "stream_tws_session_timers",
    "stream_tws_lsh_index_candidates",
    "stream_tws_lsh_bounded_bucket",
    "stream_tws_median_value",
    "stream_rocksdb_state_counts",
    "stream_checkpoint_restart_counts",
    # (2) oldest driver rows first: 29 of the 39 keys whose latest
    # driver-checked row is r4 (alphabetical; the remaining 10 rotate in
    # next round — recompute from the CORRECTNESS_r* union each round)
    "asof_click_attribution",
    "asof_click_attribution_30m",
    "chunk_documents_overlap",
    "conditional_q14_promo_share",
    "corrmin_q2_min_price_supplier",
    "data_quality_report",
    "disjunct_q19_discounted_revenue",
    "distinct_q16_supplier_breadth",
    "events_seasonal_anomalies",
    "events_wow_seasonality",
    "ewma_user_value",
    "exists_q4_order_priority",
    "funnel_view_click_purchase",
    "gap_filled_minute_counts",
    "histogram_price_bins",
    "histogram_price_equidepth",
    "in_q18_large_volume_customers",
    "interpolated_minute_values",
    "join_q10_returned_items",
    "join_q7_nation_volume",
    "join_q8_market_share",
    "join_q9_profit_by_nation_year",
    "json_event_props_stats",
    "multi_resolution_rollup",
    "multimodal_ppm_feature_histogram",
    "nestedin_q20_promo_part_suppliers",
    "notexists_q22_idle_customers",
    "outeragg_q13_order_count_distribution",
    "retention_weekly_cohorts",
    # (3) weak-by-design tail (rows-only is their best evidence; they
    # absorb any over-budget truncation harmlessly). ann_ivf_top5's
    # executed code changed again in r17 (cosine re-rank expression form,
    # value-identical) but rows-only remains its strongest driver
    # evidence, so it stays here.
    "ann_ivf_top5",
    "semantic_dedup_pairs",
    "stratified_sample_counts",
    "weighted_sample_docs",
    "pack_training_sequences",
    "agg_approx_distinct",
    "appx_percentiles_price",
    "emb_kmeans_clusters",
    "bpe_tokenize_stats",
]


def _reorder(full: dict) -> dict:
    out = {k: full[k] for k in _NEVER_DRIVER_CHECKED if k in full}
    out.update((k, v) for k, v in full.items() if k not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    full: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    full.update(MEDIAN_QUERIES)
    full.update(PIPELINE_QUERIES)
    full.update(TEMPORAL_QUERIES)
    full.update(TPCH_QUERIES)
    full.update(relational.QUERIES)
    return _reorder(full)


def oracle_sql() -> dict[str, str]:
    full: dict[str, str] = {}
    full.update(MEDIAN_ORACLE)
    full.update(PIPELINE_ORACLE)
    full.update(TEMPORAL_ORACLE)
    full.update(TPCH_ORACLE)
    full.update(relational.ORACLE)
    return _reorder(full)
