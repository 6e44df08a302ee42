"""Plan-shape guardrails: the properties that make queries survive 100 TB.

These assert the *physical plan*, not results — pushdown reached the scan,
dims broadcast, top-k avoided a global sort. A regression here is a silent
10-100× slowdown at scale even though results stay correct.
"""

from __future__ import annotations

import __spark_entry__  # noqa: F401  (populates the registry)

from sparkfulltextquery_spark.plans import (
    count_exchanges,
    has_operator,
    physical_plan,
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
    uses_top_k,
)
from sparkfulltextquery_spark.registry import REGISTRY
from tests.conftest import SF_DIR


def _q(spark, name):
    return REGISTRY[name].fn(spark, SF_DIR)


def test_filter_and_column_pruning_reach_scan(spark):
    df = _q(spark, "filter_project_pushdown")
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf and "l_returnflag" in pf, pf
    cols = read_schema_columns(df)
    # only the 6 needed columns of lineitem's 11 are read
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
    }, cols


def test_q5_broadcasts_dimensions(spark):
    df = _q(spark, "q5_local_supplier_volume")
    assert uses_broadcast_join(df)
    # the only shuffles should be the final aggregation exchange(s) — the
    # join chain itself must not shuffle the fact table more than once
    # (orders⋈lineitem is the single legitimate non-broadcast join here)
    plan = physical_plan(df)
    assert plan.count("SortMergeJoin") <= 1, plan


def test_topk_plans_as_bounded_heap(spark):
    for name in ("topk_orders", "q3_shipping_priority", "fulltext_bm25_search"):
        df = _q(spark, name)
        assert uses_top_k(df), f"{name} should plan TakeOrderedAndProject"
        assert not has_operator(df, "GlobalLimit [0-9]*\n +Sort"), name


def test_benched_bm25_indexed_prunes_buckets(spark):
    """The benched headline BM25 row (the indexed path) must read the query
    terms' postings via bucket pruning — SelectedBucketsCount in the scan —
    and still top-k as a bounded heap. This is the plan the bench number
    stands on; losing the pruning silently reverts to a full postings scan."""
    df = _q(spark, "fulltext_bm25_search_indexed")
    plan = physical_plan(df)
    assert "SelectedBucketsCount" in plan, plan
    assert uses_top_k(df)


def test_indexed_search_plans_one_exchange(spark):
    """The benched indexed search rows count df in plan over the pruned
    scan: the window rides the term bucketing, so the only exchange left
    is the doc_id aggregation's, and the scan stays bucket-pruned."""
    for name in ("fulltext_bm25_search_indexed", "fulltext_query_language_indexed"):
        # the served plan is cached and may have run already, when its
        # explain string lists the final and the initial plan: inspect a
        # fresh execution of the same query instead
        df = _q(spark, name).select("*")
        plan = physical_plan(df)
        assert count_exchanges(df) == 1, f"{name}\n{plan}"
        assert "SelectedBucketsCount" in plan, f"{name}\n{plan}"


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), counted under a fresh job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_indexed_search_construction_runs_no_job(spark):
    """With the index's n_docs/avgdl (and per-field avgdl) literals cached,
    building a never-seen BM25, query-language, simple-syntax, DisMax or
    BM25F search (no expansion atoms) starts no Spark job: df is counted
    inside the plan, not collected to the driver. A repeated BM25 query is
    served from the compiled-plan cache and its second collect reuses the
    shuffle (one job)."""
    import uuid

    from sparkfulltextquery_spark.functions.fulltext_queries import _ensure_index
    from sparkfulltextquery_spark.functions.index import (
        _df_stats_literals,
        _field_avgdl,
        bm25_search_indexed,
        bm25f_search_indexed,
        dismax_search_indexed,
        search_indexed,
        simple_search_indexed,
    )

    prefix = _ensure_index(spark, SF_DIR)
    _df_stats_literals(spark, prefix, [])
    _field_avgdl(spark, prefix)
    fresh = "".join(c for c in uuid.uuid4().hex if c.isalpha()) or "fresh"
    for fn, q in (
        (bm25_search_indexed, f"spark join window {fresh}"),
        (search_indexed, f'(spark AND join) OR ("batch batch" AND NOT {fresh})'),
        (simple_search_indexed, f"+spark join -{fresh}"),
        (dismax_search_indexed, f"spark window {fresh}"),
        (bm25f_search_indexed, f"data query {fresh}"),
    ):
        _df, n = _jobs_started(spark, lambda: fn(spark, q, 10, prefix))
        assert n == 0, f"{fn.__name__}({q!r}) started {n} jobs while building"

    q = f"data query {fresh}"
    first = bm25_search_indexed(spark, q, 10, prefix)
    rows = first.collect()
    again, n = _jobs_started(spark, lambda: bm25_search_indexed(spark, q, 10, prefix))
    assert again is first and n == 0
    rows2, n = _jobs_started(spark, again.collect)
    assert rows2 == rows and n == 1, n


def test_index_build_job_count(spark, tmp_path):
    """A warm build_index shuffles once for the postings and joins no doc
    lengths: 5 jobs without the forward index (postings exchange + write,
    df, dl with the stats observed on it, stats), 10 with it (plus tvec
    exchange + write, df broadcast, norms exchange + write; n_docs comes
    from the observed stats, not a read-back)."""
    from sparkfulltextquery_spark.functions.index import build_index
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for tv, most in ((False, 5), (True, 10)):
        def build():
            return build_index(docs, "jobs_idx", num_buckets=4,
                               path=f"file://{tmp_path}/tv{int(tv)}", term_vectors=tv)

        build()  # warm: first-use class loading and codegen
        _names, n = _jobs_started(spark, build)
        assert n <= most, f"term_vectors={tv}: {n} jobs"


def test_percolator_registry_write_and_guard_job_counts(spark):
    """On a 300-query registry, register starts 2 jobs (term index, then
    registry), add 3 (one read of the stored ids and stamp, two appends),
    remove at most 5 (the read-back, two rewrites) and the read-time guard
    at most 3 (the registry's stamp, one aggregate over the term index)."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import (
        _usable_term_index,
        add_percolator_queries,
        register_percolator_queries,
        remove_percolator_queries,
        term_index_rows,
    )
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    terms = sorted(
        t
        for t in (r.term for r in FT.positional_postings(docs).select("term").distinct().collect())
        if t.isalpha() and t not in ("and", "or", "not")
    )
    queries = [
        (i + 1, f"{terms[7 * i % len(terms)]} OR {terms[(13 * i + 5) % len(terms)]}")
        for i in range(310)
    ]
    base, extra = queries[:300], queries[300:]
    t = "t_perc_jobs"
    register_percolator_queries(spark, base, table=t)  # warm
    for label, fn, most in (
        ("register", lambda: register_percolator_queries(spark, base, table=t), 2),
        ("add", lambda: add_percolator_queries(spark, extra, table=t), 3),
        ("guard", lambda: _usable_term_index(spark, t), 3),
        ("remove", lambda: remove_percolator_queries(spark, [q for q, _ in extra], table=t), 5),
    ):
        _out, n = _jobs_started(spark, fn)
        assert n <= most, f"{label}: {n} jobs"
    assert _usable_term_index(spark, t)[1] == len(term_index_rows(base))
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"DROP TABLE IF EXISTS {t}_terms")


def test_no_cartesian_in_equijoins(spark):
    for name in ("join_inner_broadcast", "join_using_natural", "dedup_minhash_pairs"):
        df = _q(spark, name)
        assert not has_operator(df, "CartesianProduct"), name


def test_whole_stage_codegen_covers_scan_pipeline(spark):
    # with AQE on, codegen collapse happens per-stage at runtime and the
    # pre-execution plan shows no *(N) markers — disable AQE just to observe
    from sparkfulltextquery_spark.plans import codegen_stage_count

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _q(spark, "q1_pricing_summary")
        assert codegen_stage_count(df) >= 2  # scan+filter+partial-agg / final-agg
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_shuffled_hash_join_selected(spark):
    # the SHUFFLE_HASH hint must actually select ShuffledHashJoinExec
    # (reference ShuffledHashJoinExec.scala:32) — not fall back to sort-merge
    plan = physical_plan(_q(spark, "join_shuffled_hash"))
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semi_anti_plan_shapes(spark):
    semi = _q(spark, "join_left_semi")
    anti = _q(spark, "join_left_anti")
    assert "LeftSemi" in physical_plan(semi)
    assert "LeftAnti" in physical_plan(anti)


def test_aggregation_is_partial_final(spark):
    # hash agg must appear twice (partial + final) around one exchange —
    # map-side combine is what bounds shuffle volume at scale
    plan = physical_plan(_q(spark, "q1_pricing_summary"))
    assert plan.count("HashAggregate") >= 2, plan


def test_bounded_shuffle_counts(spark):
    # spot ceilings so operator changes that add shuffles get flagged
    ceilings = {
        "q1_pricing_summary": 1,
        "distinct_projection": 1,
        "window_ranking": 1,
        "fulltext_postings_topdf": 3,  # tf groupBy + df groupBy + topk
        # capstone pipeline: dedup agg + evalgram distinct + contamination
        # distinct; every other stage must stay broadcast/row-local
        "pipeline_training_data": 4,
    }
    for name, max_ex in ceilings.items():
        n = count_exchanges(_q(spark, name))
        assert n <= max_ex, f"{name}: {n} exchanges > ceiling {max_ex}"


def test_cached_relation_uses_inmemory_scan(spark):
    df = _q(spark, "cached_relation_reuse")
    df.collect()  # populate the cache
    assert has_operator(df, "InMemoryTableScan") or "InMemoryRelation" in physical_plan(df)


def test_repartition_and_sort_within_partitions(spark):
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table

    l = load_table(spark, SF_DIR, "lineitem")
    # repartition by key then sortWithinPartitions — the write-side layout
    # pattern (reference ShuffleExchange round-robin/hash + per-partition
    # sort, SortExec global=false)
    df = l.repartition(8, "l_suppkey").sortWithinPartitions("l_suppkey", "l_shipdate")
    plan = physical_plan(df, "simple")
    assert "Exchange hashpartitioning(l_suppkey" in plan
    assert "Sort [l_suppkey" in plan and "], false," in plan  # global=false sort
    assert df.count() == l.count()
    # coalesce avoids a shuffle
    c = l.coalesce(2)
    assert "Coalesce" in physical_plan(c)


def test_per_group_topk_uses_window_group_limit(spark):
    # rank-filter top-k per group must push a per-group limit below the
    # shuffle (WindowGroupLimitExec, Spark 3.5+) — without it every group's
    # full contents sort at the window, a silent killer on skewed groups
    plan = physical_plan(_q(spark, "window_ranking"))
    assert "WindowGroupLimit" in plan, plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    # 100 TB case: the selective dim is too big to broadcast → Spark's
    # InjectRuntimeFilter plants a bloom_filter_agg subquery on the dim and
    # a might_contain predicate on the fact scan, dropping fact rows BEFORE
    # the shuffle (runtime row-level semi-pruning; broadcast joins get the
    # same effect for free, so the rule fires only when broadcast is off
    # the table — simulated here by disabling the broadcast threshold)
    from sparkfulltextquery_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        l = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter("o_totalprice > 400000")
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        # and the filtered join still answers correctly
        assert j.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q21_plans_semi_then_anti_self_joins(spark):
    # Q21's EXISTS/NOT EXISTS pair must plan as one LeftSemi + one LeftAnti
    # over the fact table — never a full self-join that materializes the
    # multi-supplier pairs (O(n^2) per order at scale)
    plan = physical_plan(_q(spark, "q21_suppliers_kept_waiting"))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q19_disjunction_pushes_side_local_conjuncts(spark):
    # OR-of-ANDs: the l_quantity bounds are extractable as a lineitem-only
    # disjunction; Catalyst must push that below the join into the scan
    # (PushPredicateThroughJoin) so the fact table is pre-filtered
    df = _q(spark, "q19_disjunctive_revenue")
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf, pf


def test_q7_broadcasts_both_nation_sides(spark):
    df = _q(spark, "q7_volume_shipping")
    assert uses_broadcast_join(df)
    # the two nation⋈region dims broadcast; only fact-fact joins may shuffle
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_sql_hints_rebalance_and_broadcast(spark):
    # REBALANCE (AQE write-layout hint: split/coalesce to target size) and
    # BROADCAST SQL hints must reach the physical plan — the SQL-comment
    # form of the DataFrame hint surface
    from sparkfulltextquery_spark.sources import load_table

    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("li_h")
    load_table(spark, SF_DIR, "nation").createOrReplaceTempView("n_h")

    reb = spark.sql("SELECT /*+ REBALANCE(l_suppkey) */ * FROM li_h")
    assert "RebalancePartitions" in reb._jdf.queryExecution().optimizedPlan().toString()

    bc = spark.sql(
        "SELECT /*+ BROADCAST(n_h) */ l_orderkey, n_name "
        "FROM li_h JOIN n_h ON l_suppkey % 25 = n_nationkey"
    )
    assert "BroadcastHashJoin" in physical_plan(bc)


def test_exchange_reuse_in_self_join_aggregate(spark):
    # identical shuffle subtrees must be computed ONCE (ReuseExchange,
    # reference exchange/Exchange.scala:48) — the aggregate-join-back
    # pattern (q2/q15 shape) depends on it to avoid double scans. Reuse is
    # finalized by AQE, so assert on the executed plan after an action.
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table

    l = load_table(spark, SF_DIR, "lineitem")
    agg = l.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q"))
    a = agg.select(F.col("l_suppkey").alias("k1"), F.col("q").alias("qa"))
    b = agg.select(F.col("l_suppkey").alias("k2"), F.col("q").alias("qb"))
    j = a.join(b, F.col("k1") == F.col("k2"))
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_dynamic_partition_pruning(spark, tmp_path):
    # DPP: joining a partitioned fact to a filtered dim must plant a
    # dynamicpruning subquery on the fact scan — partitions whose keys the
    # dim filter eliminates are never read (the runtime analogue of static
    # partition pruning; the decisive scan-reduction at 100 TB star joins)
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table

    o = load_table(spark, SF_DIR, "orders")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        f"{tmp_path}/orders_part"
    )
    fact = spark.read.parquet(f"{tmp_path}/orders_part")
    dim = spark.createDataFrame(
        [("1-URGENT", "u"), ("5-LOW", "l")], "prio string, tag string"
    ).filter(F.col("tag") == "u")
    j = fact.join(dim, fact.o_orderpriority == dim.prio)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_cdc_latest_wins_is_hash_agg_not_window(spark):
    """Latest-wins must plan as partial+final HashAggregate (map-side
    combine), NOT a Window sort — at 100 TB the window form sorts every
    partition of the snapshot."""
    df = _q(spark, "cdc_latest_wins")
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan, plan


def test_pq_adc_broadcasts_codebook_and_lut(spark):
    """PQ encode joins rows against the codebook and the ADC LUT — both are
    m·L-row tables and must broadcast (no shuffle of the vector table by
    codebook key), leaving the groupBy(vec_id) + top-k heap as the only
    vector-side exchange."""
    df = _q(spark, "sim_pq_adc_topk")
    assert uses_broadcast_join(df)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert uses_top_k(df)


def test_ivfpq_codes_scan_partition_prunes(spark):
    """IVF-PQ must read the persisted code table through directory-level
    partition pruning on the coarse label (the probe IS the pruning —
    n_probe/L of the codes are touched), and the probe itself must be
    driver-side: no centroid-aggregate stage may appear in the query plan
    (training happens once in ensure_pq_index, not per query)."""
    df = _q(spark, "sim_ivfpq_topk")
    plan = physical_plan(df)
    assert "PartitionFilters: [label" in plan and " IN (" in plan, plan
    # no training in the plan: the only aggregate is the top-k machinery —
    # a centroid recompute would show up as a wide HashAggregate over avgs
    assert "avg(" not in plan, plan
    assert uses_top_k(df)


def test_merge_upsert_joins_on_pregrouped_sides(spark):
    """The MERGE rewrite joins two already-aggregated per-key sides — the
    full-outer join must not plan a nested loop / cartesian."""
    df = _q(spark, "merge_upsert_customer_stats")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_scd2_windows_share_one_partitioning(spark):
    """Both SCD2 window passes partition by o_custkey — the plan must
    contain exactly one hashpartitioning exchange on the window key."""
    df = _q(spark, "scd2_priority_history")
    plan = physical_plan(df)
    assert plan.count("hashpartitioning(o_custkey") <= 1, plan


def test_kmeans_assign_is_mapside_arrow_argmin(spark):
    """The final Lloyd assignment must be fully MAP-SIDE: one vectorized
    Arrow argmin over the vector scan against driver-collected centroids
    (the mllib broadcast-centers discipline) — no Window sort, no join of
    the vector table against centroids, and NO exchange at all (the r12
    shape; the earlier crossJoin+min(struct) form shuffled every vector
    per round)."""
    df = _q(spark, "sim_kmeans_assign")
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan, plan


def test_graph_queries_have_no_cartesian(spark):
    """PageRank iterations and the triangle join must stay equi-joins —
    a stray CartesianProduct is O(V²)/O(E²) at scale."""
    for name in ("graph_pagerank_nations", "graph_triangle_count"):
        df = _q(spark, name)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, f"{name}: {plan}"


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime filtering (SPARK-32268): with a selective filter on the
    creation side, Catalyst injects a bloom_filter_agg subquery that
    pre-filters the probe side BEFORE the shuffle — the modern join-pruning
    path at 100 TB (reads survive only if they might match). Asserted here
    with thresholds opened up; results must equal the unfiltered plan's."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, SF_DIR, "lineitem")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = physical_plan(j)
        assert "bloom_filter_agg" in plan, plan
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # equivalence vs the default plan (no runtime filter)
    o = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    l = load_table(spark, SF_DIR, "lineitem")
    want = {
        (r.o_orderpriority, r.n)
        for r in l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) == 1


def test_pagerank_lineage_truncation_keeps_plan_constant(spark):
    """VERDICT r03 directive 4: with truncate_lineage=True the unrolled
    iterative plan must be O(1) nodes per iteration (each round reads the
    prior round's localCheckpoint, not its whole lineage). Without it the
    plan grows superlinearly with iters — fine at 3 rounds, fatal at 30."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.operators.graph import pagerank, trade_edges
    from sparkfulltextquery_spark.sources import load_table

    nodes = load_table(spark, SF_DIR, "nation").select(
        F.col("n_name").alias("node")
    )
    edges = trade_edges(spark, SF_DIR).localCheckpoint(eager=True)

    def plan_lines(iters):
        df = pagerank(nodes, edges, iters=iters, truncate_lineage=True)
        return len(physical_plan(df).splitlines())

    p2, p6 = plan_lines(2), plan_lines(6)
    # final plan covers only the LAST iteration regardless of total rounds
    assert p6 <= p2 + 2, (p2, p6)

    # and the truncated path computes the same ranks as the unrolled one
    want = {
        (r.node, round(r.pr, 6))
        for r in pagerank(nodes, edges, iters=3).collect()
    }
    got = {
        (r.node, round(r.pr, 6))
        for r in pagerank(nodes, edges, iters=3, truncate_lineage=True).collect()
    }
    assert got == want


def test_kmeans_lineage_truncation_keeps_plan_constant(spark):
    """Same discipline for Lloyd's k-means: checkpointed k-row centroid
    table caps the assignment plan at one round's shape for any iters."""
    from sparkfulltextquery_spark.similarity import kmeans_iterate
    from sparkfulltextquery_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")

    def plan_lines(iters):
        df = kmeans_iterate(emb, k=4, iters=iters, truncate_lineage=True)
        return len(physical_plan(df).splitlines())

    p1, p4 = plan_lines(1), plan_lines(4)
    assert p4 <= p1 + 2, (p1, p4)

    want = {
        (r.vec_id, r.cluster)
        for r in kmeans_iterate(emb, k=4, iters=2).collect()
    }
    got = {
        (r.vec_id, r.cluster)
        for r in kmeans_iterate(emb, k=4, iters=2, truncate_lineage=True).collect()
    }
    assert got == want


def test_minhash_signature_stage_is_map_side(spark):
    """r04 minhash shape: signatures + band keys must derive map-side from
    the per-doc shingle profile — no exploded (doc_id, token) relation, so
    the plan up to the band self-join carries NO aggregate-feeding
    Generate→Exchange→HashAggregate chain over tokens, and the whole query
    stays within a bounded exchange budget (band repartition, pair
    distinct, sets repartition + AQE join exchanges)."""
    from sparkfulltextquery_spark.plans import count_exchanges

    df = _q(spark, "dedup_minhash_pairs")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    # r12: the pair distinct (partial+final exchange pair over up to
    # N_BANDS x n_pairs rows — the single biggest sf10 stage) is GONE:
    # pairs emit once from their first shared band, and the fp-shortcut
    # union splits verification into an identical-content branch (no hset
    # shipping) and a differing branch. r13: the fingerprint rides
    # THROUGH the band relation (no doc-keyed light joins), the pair
    # relation sits behind ONE explicit doc_a repartition both branches
    # reuse (without it the band self-join executed twice), and the band
    # keys travel as one binary blob. Static budget tightened 10 → 8; at
    # runtime AQE collapses the per-branch subtree copies via
    # ReuseExchange — band repartition + pair repartition + sets
    # repartition + the heavy-join exchanges.
    assert count_exchanges(df) <= 8, plan


def test_tpcds_star_joins_broadcast_dims(spark):
    """TPC-DS slice guardrail: every star-join port must broadcast its
    dimension side(s) (part/supplier/nation) — at 100 TB the fact side
    shuffling against a shuffled dim would dominate the query."""
    for name in (
        "tpcds_q3_brand_by_year",
        "tpcds_q19_brand_revenue",
        "tpcds_q42_category_revenue",
        "tpcds_q47_monthly_deviation",
        "tpcds_q67_rollup_rank",
        "tpcds_q89_monthly_outliers",
        "tpcds_q98_revenue_ratio",
    ):
        df = _q(spark, name)
        assert uses_broadcast_join(df), f"{name} should broadcast its dims"


def test_tpcds_no_cartesian_outside_scalar_joins(spark):
    """q88/q90 combine single-row aggregates — their cross joins must plan
    as broadcast nested-loop over one-row sides, never CartesianProduct."""
    for name in ("tpcds_q88_hour_buckets", "tpcds_q90_am_pm_ratio"):
        df = _q(spark, name)
        assert not has_operator(df, "CartesianProduct"), name


def test_tpcds_q16_plans_semi_and_anti(spark):
    """The EXISTS/NOT EXISTS pair must plan as one semi + one anti join
    (subquery decorrelation shape), not nested-loop re-scans."""
    plan = physical_plan(_q(spark, "tpcds_q16_multi_supplier_orders"))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_tpcds_topk_plans_as_bounded_heap(spark):
    """ORDER BY + LIMIT ports must plan TakeOrderedAndProject, not a global
    sort of the full aggregate output."""
    for name in (
        "tpcds_q3_brand_by_year",
        "tpcds_q22_rollup_qoh",
        "tpcds_q42_category_revenue",
    ):
        df = _q(spark, name)
        assert uses_top_k(df), f"{name} should plan TakeOrderedAndProject"


def test_tpcds_batch2_cte_reuse_and_shapes(spark):
    """Batch-2 guardrails: q11/q31's multiply-referenced CTEs must reuse
    one aggregated subtree per CTE (ReusedExchange/InMemoryRelation or at
    minimum no re-scan explosion), q38 plans INTERSECT as aggregated
    semi joins, q44 broadcasts the scalar threshold."""
    # q38: INTERSECT chain → no CartesianProduct, has LeftSemi
    plan = physical_plan(_q(spark, "tpcds_q38_triple_intersect"))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # q44: the 0.9x-threshold scalar subquery must broadcast, and the two
    # rank lists join the part dim broadcast
    plan = physical_plan(_q(spark, "tpcds_q44_best_worst"))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # q36: grouping()-partitioned rank — expand + window present, single
    # rollup aggregate feeding it
    plan = physical_plan(_q(spark, "tpcds_q36_grouping_rank"))
    assert "Expand" in plan, plan
    assert "Window" in plan, plan
    # q2/q31/q11 must not plan a cartesian anywhere in the self-joins
    for name in ("tpcds_q2_weekday_ratio", "tpcds_q31_quarter_growth",
                 "tpcds_q11_yoy_growth"):
        assert "CartesianProduct" not in physical_plan(_q(spark, name)), name


def test_tpcds_batch3_subquery_shapes(spark):
    """Batch-3 guardrails: OR-of-EXISTS and IN-OR-subquery plan as
    existence joins (marker column, not cartesian); q93's null-rejecting
    filter over the LEFT JOIN lets the optimizer drop the outer side
    (EliminateOuterJoin → no LeftOuter in the physical plan)."""
    plan = physical_plan(_q(spark, "tpcds_q10_disjunctive_exists"))
    assert "ExistenceJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q45_in_or_subquery"))
    assert "ExistenceJoin" in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q93_returns_arith"))
    assert "LeftOuter" not in plan, plan  # EliminateOuterJoin fired
    plan = physical_plan(_q(spark, "tpcds_q95_two_level_in"))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpcds_batch45_shapes(spark):
    """Batch-4/5 guardrails: the non-equi q72 join must not degrade to a
    cartesian (it has an equi component: item + week), q23's IN-subqueries
    plan as semi joins, q78's per-channel LEFT-JOIN-IS-NULL stays equi
    (no cartesian), q62 aggregates partial+final."""
    plan = physical_plan(_q(spark, "tpcds_q72_offset_inventory"))
    assert "CartesianProduct" not in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q23_frequent_best"))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q78_nonreturned_ratio"))
    assert "CartesianProduct" not in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q62_ship_lag_buckets"))
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_tpcds_batch6to9_shapes(spark):
    """Batch 6-9 guardrails: intersect/except chains plan as semi/anti
    over aggregates, the 6-reference CTE self-join stays cartesian-free,
    the wide pivot is a two-level partial+final aggregation, and the q32
    fact-side correlated threshold decorrelates without nested loops."""
    # r12: the INTERSECT chain is scan-fused into ONE grouped pass with
    # HAVING count(DISTINCT l_returnflag) = 3 (oracle unchanged) — the
    # guardrail is now "one lineitem scan feeds cross_items" (3 scans
    # total incl. avg_sales + the channel pass, was 6) and cartesian-free
    plan = physical_plan(_q(spark, "tpcds_q14_cross_channel_items"))
    # 5 scans (3 lineitem + 2 part) x 2 formatted mentions each; the
    # template's inlined INTERSECT+UNION planned 17 scans (34 mentions)
    assert plan.count("Scan parquet") <= 10, plan
    assert "CartesianProduct" not in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q87_except_chain"))
    assert "LeftAnti" in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q4_triple_channel_growth"))
    assert "CartesianProduct" not in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q66_monthly_wide_pivot"))
    assert plan.count("HashAggregate") >= 4, plan  # 2 levels x partial+final
    plan = physical_plan(_q(spark, "tpcds_q32_excess_discount"))
    assert "CartesianProduct" not in plan, plan
    # r12: the top-10 rank filters must execute as WindowGroupLimit
    # (partition-local top-k heaps before the exchange), never as the
    # template's global single-partition window sorts — the 100 TB cliff
    plan = physical_plan(_q(spark, "tpcds_q49_return_ratio_ranks"))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpcds_tail_shapes(spark):
    """r6 tail-batch guardrails (operators/tpcds_tail.py): q64's two-pass
    giant join stays cartesian-free with broadcast dims; q70 plans the
    rollup Expand + grouping()-partitioned Window plus a semi join for the
    windowed IN-subquery; q9's scalar-subquery ladder plans no joins at
    all in the main plan; the q17/q29 three-fact chains and q23b's CTE
    chain stay cartesian-free; q69's NOT-EXISTS pair plans anti joins and
    q35's EXISTS-OR-EXISTS plans an ExistenceJoin."""
    plan = physical_plan(_q(spark, "tpcds_q64_cross_year_sales"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan  # part/supplier/nation dims
    plan = physical_plan(_q(spark, "tpcds_q70_ranked_state_rollup"))
    assert "Expand" in plan, plan
    assert "Window" in plan, plan
    assert "LeftSemi" in plan, plan  # the rank-threshold IN-subquery
    plan = physical_plan(_q(spark, "tpcds_q9_bucket_ladder"))
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan  # 15 scalar subqueries, zero joins
    for name in (
        "tpcds_q17_sale_return_rebuy_stats",
        "tpcds_q29_sale_return_rebuy_sums",
        "tpcds_q23b_best_customer_names",
    ):
        assert "CartesianProduct" not in physical_plan(_q(spark, name)), name
    plan = physical_plan(_q(spark, "tpcds_q69_channel_absence"))
    assert "LeftAnti" in plan, plan
    assert "LeftSemi" in plan, plan
    plan = physical_plan(_q(spark, "tpcds_q35_channel_presence_stats"))
    assert "ExistenceJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_aggregate_single_shuffle_topk(spark):
    """The Hive-ngrams composition must stay word-count-shaped: ONE
    exchange (the count groupBy), partial+final agg, bounded top-k heap —
    and no re-computation blowup from inlining the token array (the
    staged-column discipline; 3.5s → 0.65s at sf0.1 when staged)."""
    df = _q(spark, "fulltext_ngrams_sentence_agg")
    assert count_exchanges(df) == 1, physical_plan(df)
    assert uses_top_k(df), physical_plan(df)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_semdedup_pair_stage_is_cluster_equi_join(spark):
    """SemDeDup's quadratic stage must stay bucketed by cluster (n²/k per
    cluster), never a CartesianProduct over the vectors: the r12 shape is
    ONE grouped Arrow pass (FlatMapGroupsInPandas computing each cluster's
    Gram block in BLAS — each vector crosses the cluster exchange once,
    where the former self-join shipped every vector twice and evaluated an
    interpreted fold per pair), and the final prune must plan as a
    left-anti join."""
    df = _q(spark, "dedup_semdedup_prune")
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "CartesianProduct" in line:
            raise AssertionError(plan)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("hashpartitioning(cluster") <= 1, plan
    assert "LeftAnti" in plan, plan


def test_distribute_by_exchange_reused_by_group_by(spark):
    """DISTRIBUTE BY / CLUSTER BY must satisfy the downstream GROUP BY's
    clustering requirement: exactly ONE exchange in the whole plan (the
    aggregation rides the user's hash distribution), and the SORT BY must
    stay a partition-local sort (no global Sort)."""
    for name in ("sqlt_distribute_sort_by", "sqlt_cluster_by"):
        df = _q(spark, name)
        assert count_exchanges(df) == 1, (name, physical_plan(df))
        # a global sort would need a rangepartitioning exchange; SORT BY
        # must not introduce one
        assert "rangepartitioning" not in physical_plan(df), name


def test_sql_hints_steer_join_and_partitioning(spark):
    """SQL hint surface (reference analogue: sql/catalyst ResolveHints):
    /*+ BROADCAST(x) */ must force a broadcast hash join even on the
    bigger side, and /*+ REPARTITION(n) */ must inject an n-partition
    exchange."""
    from sparkfulltextquery_spark.sources import load_table

    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("h_orders")
    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView("h_lineitem")

    hinted = spark.sql(
        """
        SELECT /*+ BROADCAST(h_orders) */ o_orderkey, count(*) AS n
        FROM h_lineitem JOIN h_orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey
        """
    )
    assert uses_broadcast_join(hinted), physical_plan(hinted)

    rep = spark.sql("SELECT /*+ REPARTITION(7) */ * FROM h_orders")
    assert rep.rdd.getNumPartitions() == 7


def test_regex_indexed_one_pass(spark):
    """The /regex/ atom on the indexed path must stay the one-pass shape:
    a single postings scan (the RLIKE widens the term pruning but adds no
    relation), one doc_id aggregation, no join anywhere in the plan."""
    df = _q(spark, "fulltext_query_regex_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


def test_min_should_match_indexed_zero_join(spark):
    """minimum_should_match off the index: clause count and BM25 sum fold
    into ONE doc_id aggregation over the pruned scan — no joins, bounded
    top-k heap."""
    df = _q(spark, "fulltext_min_should_match_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


def test_hybrid_rrf_bounded_legs(spark):
    """Hybrid RRF: both retrieval legs must end in bounded top-k heaps
    (TakeOrderedAndProject) BEFORE the fusion join — the join then runs
    over two ≤20-row lists, so no cartesian and no unbounded sort-merge
    over corpus-sized relations."""
    df = _q(spark, "fulltext_hybrid_rrf")
    plan = physical_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_field_scoped_atoms_indexed_one_pass(spark):
    """Field-scoped prefix and fuzzy atoms on the indexed path keep the
    one-pass shape: the atom resolves to concrete terms via the term
    dictionary (r8), the field membership folds into the flag aggregation
    as an EXISTS over stored position arrays — no join anywhere."""
    for name in (
        "fulltext_query_fieldprefix_indexed",
        "fulltext_query_fieldfuzzy_indexed",
    ):
        df = _q(spark, name)
        plan = physical_plan(df)
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                     "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{node} leaked into {name}"
        assert uses_top_k(df), name


def _logical_joins(df) -> int:
    """Join nodes in the optimized logical plan (AQE does not touch it,
    so a plan that already ran is counted the same)."""
    import re

    return len(
        re.findall(r"\bJoin\b", df._jdf.queryExecution().optimizedPlan().toString())
    )


def test_inline_search_matches_without_joins(spark):
    """Inline query-language and simple-syntax search compute the flags
    of phrase, NEAR and field atoms AND the BM25 score in one aggregation
    over positional postings (querylang.ranked_search): the only join is
    the one-row corpus stats relation's — no join per positional atom,
    none to attach scores. The inline field scorers and matchers run the
    indexed bodies over positional postings too: BM25F and DisMax join
    only the stats relation (4 joins each while they built their own
    per-field df and avgdl), phrase and NEAR join nothing (2 and 1
    positional joins before)."""
    from sparkfulltextquery_spark.functions.fulltext import (
        bm25f_search,
        dismax_search,
        phrase_match,
        proximity_match,
    )
    from sparkfulltextquery_spark.functions.querylang import search, simple_search
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    q = '"spark join" AND (spark NEAR/3 join) AND title:spark AND "batch query"~2'
    assert _logical_joins(search(docs, q, k=10)) == 1
    assert _logical_joins(simple_search(docs, "+spark join -vector", k=10)) == 1
    assert _logical_joins(bm25f_search(docs, "data query spark window")) == 1
    assert _logical_joins(dismax_search(docs, "data query spark window")) == 1
    assert _logical_joins(phrase_match(docs, "spark join data")) == 0
    assert _logical_joins(proximity_match(docs, "spark", "join")) == 0


def test_inline_query_language_jobs_budget(spark):
    """Collecting the inline fulltext_query_language row starts at most 6
    Spark jobs (14 to 16 while inline search scored through a separate
    bm25_scores relation and a left join)."""
    df = _q(spark, "fulltext_query_language")
    _rows, n = _jobs_started(spark, df.collect)
    assert n <= 6, n


def test_dismax_indexed_zero_join(spark):
    """Indexed DisMax (VERDICT r06 #2): per-field tf/dl derive per posting
    row from stored positions and the denormalized dl, per-field df/avgdl
    are driver literals — the whole query must stay ONE pruned scan + one
    doc_id aggregation with no join, ending in a bounded top-k heap."""
    df = _q(spark, "fulltext_dismax_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


def test_wildcard_indexed_one_pass(spark):
    """General wildcard atoms (r7) on the indexed path must stay the
    one-pass shape: the pattern resolves to concrete terms via the term
    dictionary (r8), flags fold into the single doc_id aggregation — no
    join anywhere, bounded top-k."""
    df = _q(spark, "fulltext_query_wildcard_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


EXPANSION_INDEXED_ROWS = (
    "fulltext_query_regex_indexed",
    "fulltext_query_fuzzy_indexed",
    "fulltext_query_range_indexed",
    "fulltext_query_wildcard_indexed",
    "fulltext_query_fieldprefix_indexed",
    "fulltext_query_fieldfuzzy_indexed",
    "fulltext_query_fieldrange_indexed",
    "fulltext_query_fieldwildcard_indexed",
    "fulltext_query_phrase_prefix_indexed",
)


def test_expansion_atoms_resolve_via_term_dictionary(spark):
    """VERDICT r07 #1: expansion atoms (prefix/fuzzy/range/regex/wildcard,
    plain and field-scoped) must resolve against the persisted term
    dictionary (the O(|vocab|) df table), folding concrete terms into an
    equality isin over the postings — so the POSTING scan stays
    bucket-pruned (SelectedBucketsCount) and carries NO
    LIKE/levenshtein/RLIKE/StartsWith predicate. Before r8 each of these
    rows full-scanned the postings with a per-row expansion predicate —
    at 100 TB the difference between a dictionary lookup and a table
    scan."""
    for name in EXPANSION_INDEXED_ROWS:
        df = _q(spark, name)
        plan = physical_plan(df)
        assert "SelectedBucketsCount" in plan, f"{name} lost bucket pruning"
        for pred in ("levenshtein", "LIKE ", "RLIKE", "StartsWith", "rlike("):
            assert pred not in plan, (
                f"{name}: expansion predicate {pred!r} leaked into the "
                f"physical plan — should be dictionary-resolved"
            )


def test_inline_expansion_atoms_resolve_via_vocabulary(spark):
    """VERDICT r08 #4: the INLINE search path now shares the indexed
    path's resolution discipline — expansion atoms resolve against the
    corpus-derived vocabulary (one bounded two-pass job at compile time)
    and the compiled plan's posting/positional filters are equality-only:
    no LIKE/levenshtein/RLIKE/StartsWith reaches any per-posting row.
    Before r9 two disciplines coexisted (inline kept predicate forms),
    which was both a drift class and an O(postings)-per-atom evaluation
    the resolver does over O(|vocab|) rows instead."""
    for iname in EXPANSION_INDEXED_ROWS:
        name = iname[: -len("_indexed")]
        df = _q(spark, name)
        plan = physical_plan(df)
        for pred in ("levenshtein", "LIKE ", "RLIKE", "StartsWith", "rlike("):
            assert pred not in plan, (
                f"{name}: expansion predicate {pred!r} leaked into the "
                f"inline physical plan — should be vocabulary-resolved"
            )


def test_fieldrange_fieldwildcard_indexed_one_pass(spark):
    """Field-scoped range and wildcard atoms (r7) on the indexed path keep
    the one-pass shape: the atom resolves to concrete terms via the term
    dictionary (r8), field membership folds into the flag aggregation as
    an EXISTS over stored position arrays — no join anywhere."""
    for name in (
        "fulltext_query_fieldrange_indexed",
        "fulltext_query_fieldwildcard_indexed",
    ):
        df = _q(spark, name)
        plan = physical_plan(df)
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                     "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{node} leaked into {name}"
        assert uses_top_k(df), name


def test_phrase_prefix_indexed_one_pass(spark):
    """Phrase-prefix (r7) on the indexed path keeps the one-pass shape:
    the final prefix resolves to concrete terms via the term dictionary
    (r8), the lead word's position array and the flattened prefix-match
    positions gather as slots in the single doc_id aggregation, adjacency
    is an array expression — no join."""
    df = _q(spark, "fulltext_query_phrase_prefix_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


def test_simple_query_indexed_one_pass(spark):
    """simple_query_string (r7) off the index: one pruned scan, one doc_id
    aggregation computing MUST/MUST_NOT flags AND the BM25 sum together,
    flag filter, bounded top-k — no join anywhere."""
    df = _q(spark, "fulltext_simple_query_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


def test_bm25f_indexed_zero_join(spark):
    """Indexed BM25F (r7): per-field tf/dl from stored positions and the
    denormalized dl, per-field avgdl + doc-level df as driver literals —
    one pruned scan + one doc_id aggregation, no join, bounded top-k."""
    df = _q(spark, "fulltext_bm25f_weighted_indexed")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-pass plan"
    assert uses_top_k(df)


def test_percolate_broadcasts_queries_and_prunes(spark):
    """Percolation (r7): the stored-query table must BROADCAST into the
    posting relation (never a per-query corpus scan); the indexed form's
    scan must bucket-prune to the queries' term union."""
    df = _q(spark, "fulltext_percolate")
    assert uses_broadcast_join(df)
    assert "CartesianProduct" not in physical_plan(df)
    dfi = _q(spark, "fulltext_percolate_indexed")
    plan = physical_plan(dfi)
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan

def test_percolate_bool_one_scan_zero_join(spark):
    """Boolean percolation (r8): N stored AND/OR/NOT+phrase queries compile
    to flag expressions over ONE shared posting scan — a single doc_id
    aggregation, one global aggregation, NO join of any kind; the indexed
    twin's scan must bucket-prune to the queries' term union and never
    touch the corpus."""
    df = _q(spark, "fulltext_percolate_bool")
    plan = physical_plan(df)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the one-scan plan"
    dfi = _q(spark, "fulltext_percolate_bool_indexed")
    plan = physical_plan(dfi)
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the indexed plan"
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan

def test_percolate_expansion_resolves_and_prunes(spark):
    """Expansion-atom percolation (r8): stored prefix/fuzzy/range/wildcard/
    regex queries resolve to concrete terms at registration — the shared
    scan is equality-only (no expansion predicate anywhere in the plan)
    and the indexed twin's posting scan bucket-prunes; both stay
    zero-join one-scan shapes."""
    for name in ("fulltext_percolate_expansion", "fulltext_percolate_expansion_indexed"):
        df = _q(spark, name)
        plan = physical_plan(df)
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                     "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{node} leaked into {name}"
    plan = physical_plan(_q(spark, "fulltext_percolate_expansion_indexed"))
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan
    for pred in ("levenshtein", "LIKE ", "RLIKE", "StartsWith", "rlike("):
        assert pred not in plan, f"expansion predicate {pred!r} leaked"

def test_percolate_alerts_one_scan_zero_join(spark):
    """Alerting percolation (r8): both forms keep the one-scan zero-join
    shape; the indexed form (through the persisted registry table)
    bucket-prunes and never touches the corpus — the registry read is a
    bounded driver collect, not a join."""
    for name in ("fulltext_percolate_alerts", "fulltext_percolate_alerts_indexed"):
        df = _q(spark, name)
        plan = physical_plan(df)
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                     "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{node} leaked into {name}"
    plan = physical_plan(_q(spark, "fulltext_percolate_alerts_indexed"))
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan

def test_percolate_scored_one_scan_zero_join(spark):
    """Ranked percolation (r8): BM25 per-term contributions fold into the
    SAME doc_id aggregation as the match flags — scan + agg + window, no
    join; the indexed form bucket-prunes with idf/n/avgdl as literals."""
    for name in ("fulltext_percolate_scored", "fulltext_percolate_scored_indexed"):
        df = _q(spark, name)
        plan = physical_plan(df)
        # max(positions) over arrays can plan Sort/ObjectHashAggregate —
        # any aggregate node satisfies the one-agg shape
        assert plan.count("Aggregate") >= 1, name
    plan = physical_plan(_q(spark, "fulltext_percolate_scored_indexed"))
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} leaked into the indexed scored plan"
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan


def test_trained_pq_join_encode_broadcasts_and_partial_aggs(spark):
    """Large-codebook encode (r10): the broadcast-join path must
    broadcast the m·L codeword table into the subvector scan (never
    shuffle the vectors against it, never a cartesian) and run both
    argmin and reassembly as partial+final hash aggregates. The plan
    properties, not the walls, are what survive a 100 TB encode job."""
    from sparkfulltextquery_spark.similarity import (
        _pq_encode_join,
        normalize_expr,
        pq_train,
    )
    from sparkfulltextquery_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF_DIR, "embeddings")
    lit = pq_train(e, 4)
    ev = e.select(
        "vec_id",
        "label",
        normalize_expr(F.col("embedding").cast("array<double>")).alias("v"),
    )
    df = _pq_encode_join(ev, lit["labels"], lit["cent"], lit["m"], lit["sub"])
    plan = physical_plan(df)
    assert uses_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower(), plan  # map-side combine on the argmin
    # exactly the argmin agg + the reassembly agg shuffle on vec_id — the
    # broadcast side must not add an exchange of the vector relation
    assert count_exchanges(df) <= 2, plan


def test_skew_join_zipf_aqe_splits_hot_partition(spark):
    """AQE skew-join evidence (r11, VERDICT r10 #6): the skew_join_zipf
    shape — a zipf-keyed fact (80% of rows on one hot key) sort-merge-
    joined to a dimension — must get its oversized shuffle partition
    SPLIT by OptimizeSkewedJoin at execution: the runtime re-plan that
    keeps a zipfian join key from serializing a stage on a 1000-executor
    cluster. The executed SMJ node must carry skew=true and the skewed
    side an 'AQEShuffleRead ... skewed' read.

    The fact side here is a multi-partition range with the SAME key
    construction as the registered skew_join_zipf pair (whose DuckDB
    oracle proves results) rather than the sf0.001 parquet: AQE splits a
    skewed partition by MAPPER ranges, and the single-row-group sf0.001
    lineitem file scans as ONE map task — unsplittable by construction,
    a test-scale artifact. At bench scales (sf0.1+) and in any real
    deployment the fact side has many mappers, which this range input
    simulates. Thresholds lowered so the split triggers at test bytes;
    deploy defaults fire on real 256MB-median skew."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {}
    overrides = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
    }
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        l = spark.range(0, 200_000, 1, 16).select(
            F.when(F.col("id") % 1000 < 800, F.lit(0))
            .otherwise(F.col("id") % 50)
            .alias("zkey"),
            (F.col("id") % 97).cast("double").alias("qty"),
        )
        d = spark.range(0, 25, 1, 4).select(
            (F.col("id") * 2).alias("zkey"),
            F.concat(F.lit("n"), F.col("id")).alias("name"),
        )
        df = (
            l.join(d.hint("merge"), "zkey")
            .groupBy("name")
            .agg(F.round(F.sum("qty"), 2).alias("total"))
        )
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, (
            "AQE did not split the hot partition:\n" + plan
        )
        assert "skewed" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
