"""Join-type coverage (SURVEY.md §2.3).

Reference join surface: inner / left / right / full outer / left semi /
left anti / cross / theta (plans/logical/basicLogicalOperators.scala:270,
Dataset.join at Dataset.scala:601-723). Physical strategies: broadcast-hash
(BroadcastHashJoinExec.scala:38), sort-merge (SortMergeJoinExec.scala:35),
shuffled-hash (ShuffledHashJoinExec.scala:32), broadcast-nested-loop for
theta (BroadcastNestedLoopJoinExec.scala:32), cartesian
(CartesianProductExec.scala:85).

Scale notes: every dim-side join here broadcasts (dims are bounded); the
orders⋈lineitem joins shuffle on the order key — at 100 TB both sides would
be bucketed on l_orderkey/o_orderkey to eliminate that shuffle
(DataFrameWriter.bucketBy, as functions.index.build_index does for postings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfulltextquery_spark.registry import query
from sparkfulltextquery_spark.sources import load_table


@query(
    "join_inner_broadcast",
    oracle="""
    SELECT n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders; count(col) skips
    the null-extended rows exactly as the reference's Count does
    (aggregate/Count.scala:30)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spent"),
        )
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT s_suppkey, s_name, count(l_orderkey) AS n_lines
    FROM lineitem RIGHT JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        l.join(s, l.l_suppkey == s.s_suppkey, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


@query(
    "join_full_outer",
    oracle="""
    WITH a AS (SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY o_custkey),
         b AS (SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_acctbal > 5000)
    SELECT coalesce(a.k, b.k) AS custkey,
           coalesce(n_orders, 0) AS n_orders,
           round(coalesce(c_acctbal, 0), 2) AS acctbal
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — sort-merge physical plan (SortMergeJoinExec supports
    all outer sides; broadcast cannot do full-outer builds)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.groupBy(F.col("o_custkey").alias("k")).agg(F.count(F.lit(1)).alias("n_orders"))
    b = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"), "c_acctbal")
    return (
        a.join(b, a.k == b.k, "full_outer")
        .select(
            F.coalesce(a.k, b.k).alias("custkey"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.round(F.coalesce(F.col("c_acctbal"), F.lit(0.0)), 2).alias("acctbal"),
        )
    )


@query(
    "join_shuffled_hash",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_lines,
           round(sum(l_extendedprice), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_shuffled_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShuffledHashJoinExec demonstrably selected (reference
    ShuffledHashJoinExec.scala:32; strategy pick SparkStrategies.scala:111):
    the SHUFFLE_HASH hint on the smaller fact side builds its hash table
    per-partition instead of sorting both sides — wins over sort-merge when
    one side is much smaller but too big to broadcast.
    tests/test_plans.py asserts the physical plan contains ShuffledHashJoin."""
    o = load_table(spark, sf_dir, "orders").hint("SHUFFLE_HASH")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftSemi = EXISTS. The reference rewrites IN/EXISTS subqueries into
    semi joins (optimizer/subquery.scala:43); we express it directly."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LeftAnti = NOT EXISTS — customers with no large order (every customer
    in the synthetic corpus has at least one order, so the unfiltered anti
    join would be vacuously empty)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CartesianProductExec (reference CartesianProductExec.scala:85) — only
    ever sane on bounded dims; guarded upstream by CheckCartesianProducts
    (Optimizer.scala:949)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, count(*) AS n_peers
    FROM supplier s JOIN nation n
      ON n.n_nationkey > s.s_nationkey AND n.n_nationkey <= s.s_nationkey + 5
    GROUP BY s_suppkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join → BroadcastNestedLoopJoinExec
    (reference BroadcastNestedLoopJoinExec.scala:32). At scale a raw theta
    join is O(n·m); the engine's range-join pattern (equi-bucket + refine) in
    operators/rangejoin.py is the 100 TB path — this query keeps the direct
    form on bounded inputs for parity."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cond = (n.n_nationkey > s.s_nationkey) & (n.n_nationkey <= s.s_nationkey + 5)
    return (
        s.join(F.broadcast(n), cond)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_peers"))
    )


@query(
    "join_using_natural",
    oracle="""
    SELECT o_orderkey, cnt
    FROM orders
    JOIN (SELECT l_orderkey AS o_orderkey, count(*) AS cnt
          FROM lineitem GROUP BY l_orderkey) USING (o_orderkey)
    WHERE cnt >= 5
    """,
)
def join_using_natural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING-style join on a shared column name (reference analyzer rule
    ResolveNaturalAndUsingJoin, Analyzer.scala:100)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    counts = l.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return o.join(counts, ["o_orderkey"]).filter(F.col("cnt") >= 5).select("o_orderkey", "cnt")


@query(
    "join_existence_in_subquery",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    """,
)
def join_existence_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join via SQL IN-subquery — Catalyst decorrelates it into a
    semi join exactly as the reference's RewritePredicateSubquery
    (optimizer/subquery.scala:43)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        """
    )
