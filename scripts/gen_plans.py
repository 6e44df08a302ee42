#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship queries."""
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from sparkfulltextquery_spark import get_spark  # noqa: E402
from sparkfulltextquery_spark.plans import physical_plan  # noqa: E402
import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.01"
FLAGSHIPS = {
    "q5_local_supplier_volume": "relational spine: pushdown + broadcast dims + partial/final agg",
    "q3_shipping_priority": "top-k: TakeOrderedAndProject bounded heap, no global sort",
    "q21_suppliers_kept_waiting": "EXISTS/NOT EXISTS as LeftSemi + LeftAnti self-joins",
    "fulltext_bm25_search_indexed": "benched BM25: one bucket-pruned scan, literal df/stats, zero joins, top-k heap",
    "fulltext_query_language_indexed": "boolean search: one pruned scan, flag+phrase+BM25 in one agg, no joins",
    "fulltext_bm25_search": "inline BM25: the indexed body over positional postings, df in plan, one broadcast stats join, top-k heap",
    "dedup_minhash_pairs": "LSH banding: map-side signatures, exchange-reuse, array-intersect verify, no cartesian",
    "pipeline_training_data": "capstone: 3 shuffles total; everything else broadcast/row-local",
    "sim_ivf_topk_indexed": "persisted ANN index: PartitionFilters prune to probed clusters",
    "dedup_incremental_minhash": "delta probes persisted band-key store; corpus never re-hashed",
    "curation_quality_classifier": "model as plan literals: no UDF, no broadcast, 2 shuffles",
    "curation_boilerplate_ngrams": "gram shuffle + multi-distinct expand + bounded top-k heap",
    "sim_pq_adc_topk": "PQ-ADC from the persisted code table: literal LUT in codegen, C-bounded heap + broadcast re-rank",
    "cdc_latest_wins": "latest-wins compaction: partial+final sort-agg (struct max_by buffer), no window sort",
    "merge_upsert_customer_stats": "MERGE rewrite: pre-aggregated sides, single key join",
    "fulltext_bm25f_weighted": "inline BM25F: the indexed body over positional postings, per-field tf from positions, one broadcast stats join",
    "sim_ivfpq_topk": "IVF-PQ: driver-side probe -> partition-pruned code scan -> ADC -> broadcast re-rank",
    "graph_pagerank_nations": "PageRank: per-iteration edge join + dst agg, no cartesian",
    # r5 TPC-DS slice flagships
    "tpcds_q67_rollup_rank": "TPC-DS q67: rollup Expand -> partial/final agg -> rank window, broadcast item dim",
    "tpcds_q10_disjunctive_exists": "TPC-DS q10: OR-of-EXISTS as ExistenceJoin marker columns",
    "tpcds_q93_returns_arith": "TPC-DS q93: null-rejecting filter collapses LEFT JOIN to inner (EliminateOuterJoin)",
    "tpcds_q51_cumulative_channels": "TPC-DS q51: two cumulative windows + full-outer merge + running max",
    # r6 tail-batch flagships
    "tpcds_q64_cross_year_sales": "TPC-DS q64: widest join graph (8-way star + returns CTE), CTE self-join across years, no cartesian",
    "tpcds_q70_ranked_state_rollup": "TPC-DS q70: rank-threshold IN-subquery as semi join feeding grouping()-partitioned rollup rank",
    "tpcds_q9_bucket_ladder": "TPC-DS q9: 15 scalar subqueries, zero joins in the main plan",
    "fulltext_query_fielded_indexed": "fielded atom: position-array exists() inside the one-pass indexed agg, bucket-pruned scan",
    "fulltext_query_fuzzy_indexed": "fuzzy atom (r8): dictionary-resolved to concrete terms, equality-only bucket-pruned scan, flag in the single agg",
    "fulltext_ngrams_sentence_agg": "Hive ngrams UDAF shape: staged token column (no expr recompute), one count shuffle, top-k heap",
    # r6 continuation flagships
    "fulltext_query_regex_indexed": "regexp atom (r8): dictionary-resolved, equality-only pruned scan, flag in the single agg, no joins",
    "fulltext_hybrid_rrf": "hybrid RRF: both retrieval legs end in TakeOrderedAndProject heaps BEFORE the 20-row fusion join",
    "fulltext_min_should_match_indexed": "minimum_should_match: clause count + BM25 sum in ONE doc_id agg over the pruned scan, zero joins",
    "fulltext_query_fieldprefix_indexed": "fielded prefix (r8): dictionary-resolved terms prune the scan, field test is exists() over stored position arrays",
    "fulltext_dismax": "inline DisMax: the indexed body over positional postings, per-field df windows, one doc agg, one broadcast stats join",
    # r7 flagships
    "fulltext_dismax_indexed": "indexed DisMax: per-field tf from stored positions, field stats as literals — one pruned scan, zero joins",
    "fulltext_bm25f_weighted_indexed": "indexed BM25F: fuse-before-saturation tfw as column expressions over one pruned scan, zero joins",
    "fulltext_query_wildcard_indexed": "wildcard atoms (r8): dictionary-resolved, equality-only pruned scan, flags in the single agg",
    "fulltext_query_phrase_prefix_indexed": "phrase-prefix: lead slots + flattened prefix-position slot in ONE agg; adjacency is an array expr",
    # r9 flagships
    "fulltext_percolate_scored_indexed": "ranked percolation: per-term BM25 + match flags in ONE bucket-pruned scan+agg, WindowGroupLimit top-k, zero joins",
    "fulltext_percolate_alerts_indexed": "alerting percolation off the persisted registry table: one pruned scan, array-filter unpivot, zero joins",
    "fulltext_query_language": "INLINE boolean search (r9): expansion atoms vocabulary-resolved, equality-only posting filters",
    "fulltext_simple_query_indexed": "simple_query_string: MUST/MUST_NOT flags AND the BM25 sum in one agg over one pruned scan",
    "textstats_gopher_repetition": "Gopher dup-ngram rule: staged token column, explode + two-stage Tungsten agg (beats HOF lambdas 6x)",
}


def skew_executed_plan(spark, qs) -> list[str]:
    """r12 (VERDICT r11 #6): the AQE skew-split pinned on REAL
    parquet-backed input — the registered skew_join_zipf query executed
    against the Spark-written multi-file sf1 lineitem (32 part files =
    32 mappers; the driver-shipped sf0.1/sf0.001 files are single-row-
    group, unsplittable by parquet construction — the r11 plan test
    documents that artifact and simulates mappers with spark.range).
    Thresholds are lowered so the split triggers at sf1 bytes (the hot
    partition is ~10 MB there; deploy defaults fire at 256 MB median) —
    the PLAN SHAPE, an executed SortMergeJoin(skew=true) over a skewed
    AQEShuffleRead, is scale-invariant."""
    import os

    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    if not Path(f"{sf1}/lineitem.parquet").exists():
        return [
            "## skew_join_zipf (executed, sf1) — SKIPPED",
            "*sf1 dataset not present; run scripts/make_sf1.py then regenerate*",
            "",
        ]
    overrides = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
    }
    saved = {}
    conf = spark.conf
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        df = qs["skew_join_zipf"](spark, sf1)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            conf.unset(k) if v is None else conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan, (
        "AQE did not split the hot partition on sf1 parquet:\n" + plan
    )
    assert "skewed" in plan, plan
    # the executed tree is wide; keep the section readable by trimming
    # trailing codegen ids but never the node lines themselves
    return [
        "## skew_join_zipf — EXECUTED adaptive plan at sf1 (parquet-backed)",
        "*zipf hot key (80% of rows) through a merge-hinted SMJ on real",
        "multi-file parquet input: OptimizeSkewedJoin splits the oversized",
        "partition — `SortMergeJoin(skew=true)` + skewed AQEShuffleRead —",
        "thresholds lowered to sf1 bytes (deploy defaults: 256MB median),",
        "asserted at generation time; the spark.range-mapper twin is",
        "tests/test_plans.py::test_skew_join_zipf_aqe_splits_hot_partition*",
        "",
        "```",
        plan.strip()[:6000],
        "```",
        "",
    ]


def main() -> None:
    spark = get_spark()
    qs = E.queries()
    out = [
        "# PLANS — physical plans of flagship queries (auto-generated at sf0.01)",
        "",
        "Regenerate: `python scripts/gen_plans.py`. These are the plans the",
        "guardrails in tests/test_plans.py assert on — pushdown reaching scans,",
        "broadcast exchanges on dims, bounded top-k heaps, no stray",
        "CartesianProduct, partial+final aggregation.",
        "",
    ]
    for name, why in FLAGSHIPS.items():
        tree = physical_plan(qs[name](spark, SF)).split("\n\n")[0]
        out += [f"## {name}", f"*{why}*", "", "```", tree.strip(), "```", ""]
    out += skew_executed_plan(spark, qs)
    (REPO / "PLANS.md").write_text("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
