"""Write PLANS.md: the formatted physical plan of every bench headline
query at sf0.001 — the artifact to read when auditing pushdown, pruning,
broadcast choices, and shuffle counts without re-running anything.

Usage: python tools/dump_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from bench import HEADLINE  # noqa: E402

from rocana_impala_udfs_spark import get_spark  # noqa: E402


def source_hash(repo_root: str = ".") -> str:
    """md5 over every source file that can change a dumped plan (the
    package, bench.py's headline list, the entry module, and this script).
    Embedded in PLANS.md as a staleness marker:
    ``tests/test_plans.py::test_plans_md_not_stale`` recomputes it, so a
    plan-affecting source change can no longer ship with a stale dump
    (VERDICT r9 #7). Over-strict by design — some source edits don't move
    any plan — but regeneration is one command and false-fresh is the
    failure mode that matters."""
    import hashlib
    import pathlib

    root = pathlib.Path(repo_root)
    files = sorted(
        [
            *(root / "rocana_impala_udfs_spark").rglob("*.py"),
            root / "bench.py",
            root / "__spark_entry__.py",
            root / "tools" / "dump_plans.py",
        ]
    )
    h = hashlib.md5()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def stable_ids(plan: str) -> str:
    """Renumber expression ids (``#123``), exchange plan ids and RDD ids
    (``MapPartitionsRDD[52]``) in order of first appearance within one
    plan. Spark hands all three out from process-wide counters, so without
    this a change to one query (or to the jobs it submits while it is
    built) rewrites the ids of every plan dumped after it."""
    import re

    for pattern in (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)"):
        ids: dict[str, int] = {}
        plan = re.sub(pattern, lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids))), plan)
    return plan


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark("plan-dump")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sections = [
        "# Physical plans (bench headline suite)\n",
        f"Source-hash: `{source_hash()}`\n\n"
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. Read for: "
        "`PushedFilters` on scans, `ReadSchema` width, `BroadcastHashJoin` "
        "vs `SortMergeJoin`, `Exchange` count (shuffles), and "
        "`WholeStageCodegen` spans.\n\n"
        "Caveat: these are STATIC plans — `.cache()` points (e.g. the "
        "MinHash candidate frame) print their full lineage at every "
        "consumer, so repeated subtrees below run ONCE at runtime; AQE also "
        "rewrites exchanges at runtime (coalescing, broadcast demotion).\n",
    ]
    # Bench headliners + the non-bench operators worth a plan audit
    # (round-2 additions: TPC-H-flavor pack, LM scoring, equi-depth, ranks).
    extra = [
        "exists_q4_order_priority",
        "join_q7_nation_volume",
        "join_q8_market_share",
        "join_q9_profit_by_nation_year",
        "join_q10_returned_items",
        "conditional_q14_promo_share",
        "in_q18_large_volume_customers",
        "disjunct_q19_discounted_revenue",
        "notexists_q22_idle_customers",
        "text_bigram_lm_scores",
        "corpus_length_report",
        "histogram_price_equidepth",
        "stats_spearman_price_quantity",
        "window_revenue_share_by_nation",
        "text_fingerprints",
        "exact_median_name_truncated10",
        "window_rolling_p90_totalprice",
        "events_mad_outliers",
        "winsorized_stats_price",
        "customer_rfm_segments",
        "revenue_share_of_region",
        "basket_part_pairs",
        "events_path_patterns",
        "events_transition_matrix",
        "events_dau_wau",
        "text_collocations_pmi",
        "text_pii_flags",
        "dedup_cluster_sizes",
        "resample_by_quality",
        "emb_kmeans_assign",
        "multimodal_ppm_decode_stats",
        "multimodal_ppm_resize",
        "ops_error_burn_rate",
        "dedup_incremental_new_docs",
        "emb_kmeans_clusters",
        "case_q12_priority_shipping",
        "view_q15_top_supplier",
        "distinct_q16_supplier_breadth",
        "nestedin_q20_promo_part_suppliers",
        "profile_lineitem_columns",
        # round-4 additions
        "multimodal_png_decode_stats",
        "multimodal_ppm_feature_histogram",
        "stratified_hash_counts",
        "weighted_sample_det_topk",
        "corrmin_q2_min_price_supplier",
        "share_q11_important_parts",
        "outeragg_q13_order_count_distribution",
        "selfjoin_q21_sole_returned_suppliers",
        "appx_p90_value_by_event_type",
        "ewma_user_value",
        "interpolated_minute_values",
        "vocab_growth_stats",
        "multimodal_jpeg_decode_stats",
        "chunk_documents_overlap",
        "snapshot_diff_summary",
        "data_quality_report",
        "events_wow_seasonality",
        "asof_click_attribution_30m",
        "events_seasonal_anomalies",
        "dedup_containment_pairs",
        "ops_daily_digest",
    ]
    import re as _re

    def audit(plan: str) -> tuple[int, int, int, int]:
        """(shuffle exchanges, broadcast exchanges, parquet scans, scans
        with a non-empty PushedFilters list) — the four numbers the 100 TB
        plan audit starts from."""
        shuffles = len(_re.findall(r"\) Exchange\b", plan))
        broadcasts = len(_re.findall(r"\) BroadcastExchange\b", plan))
        scans = len(_re.findall(r"\) Scan parquet", plan))
        pushed = len(_re.findall(r"PushedFilters: \[(?!\])", plan))
        return shuffles, broadcasts, scans, pushed

    audits: list[tuple[str, tuple[int, int, int, int]]] = []
    plan_sections: list[str] = []
    for name in HEADLINE + [e for e in extra if e not in HEADLINE]:
        if name not in qs:
            continue
        df = qs[name](spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = stable_ids(df._jdf.queryExecution().explainString(mode))
        # Literal control chars (e.g. the BPE fold's ␟/␞ separators) would
        # make the file read as binary to grep — escape them visibly.
        plan = "".join(ch if ch == "\n" or ch >= " " else f"\\x{ord(ch):02x}" for ch in plan)
        audits.append((name, audit(plan)))
        plan_sections.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    # Shuffle-audit table first: the per-key exchange/broadcast/scan/pushdown
    # counts, most-shuffling first — the one-screen scale review (a static
    # upper bound; cache-point lineage repetition and AQE runtime rewrites
    # both only REDUCE what actually executes, per the caveat above).
    sections.append("\n## Shuffle audit (static counts per plan)\n\n")
    sections.append("| key | shuffles | broadcasts | parquet scans | pushed-filter scans |\n")
    sections.append("|---|---|---|---|---|\n")
    for name, (sh, bc, sc, pu) in sorted(audits, key=lambda x: (-x[1][0], x[0])):
        sections.append(f"| `{name}` | {sh} | {bc} | {sc} | {pu} |\n")
    sections.extend(plan_sections)
    with open(out_path, "w") as f:
        f.write("".join(sections))
    print(f"wrote {out_path} ({len(plan_sections)} plans)")


if __name__ == "__main__":
    main()
