"""Row-level mutation semantics — MERGE / upsert / CDC-apply / SCD2.

Reference anchor: the reference exposes MERGE INTO through its v2 command
surface (sql/catalyst .../plans/logical/v2Commands.scala `MergeIntoTable`,
analysis ResolveMergeInto; Spark 4 adds the `DataFrame.mergeInto` API,
SPARK-46207). Plain parquet tables don't support row-level operations, so
at scale the engine expresses MERGE the way production Spark pipelines do:
a full-outer join rewrite (update+insert), an anti-join rewrite (delete),
and dynamic partition overwrite for the write-back (see
test_streaming.py::test_incremental_rollup_dynamic_partition_overwrite).

Scale notes (100 TB): the merge key join shuffles both sides on the key —
at scale the target is bucketed on the merge key (DataFrameWriter
.bucketBy) so only the delta shuffles; the CDC-apply pattern keeps
the change feed small relative to the snapshot, and latest-wins collapse
is a partial-aggregable min(struct) — no window sort over the snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkfulltextquery_spark.registry import query
from sparkfulltextquery_spark.sources import load_table


@query(
    "merge_upsert_customer_stats",
    oracle="""
    WITH t AS (
      SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS tot
      FROM orders WHERE o_orderdate < DATE '1997-01-01' GROUP BY o_custkey
    ),
    s AS (
      SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS tot
      FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY o_custkey
    )
    SELECT coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
           coalesce(t.n, 0) + coalesce(s.n, 0) AS n_orders,
           round(coalesce(t.tot, 0) + coalesce(s.tot, 0), 2) AS total_spent,
           CASE WHEN t.o_custkey IS NULL THEN 'insert'
                WHEN s.o_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM t FULL OUTER JOIN s ON t.o_custkey = s.o_custkey
    """,
)
def merge_upsert_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) as the
    full-outer-join rewrite: the target snapshot (pre-1997 per-customer
    stats) merged with a delta (1997+), matched rows updated by summing,
    unmatched delta rows inserted. `merge_action` surfaces which MERGE
    branch each output row took."""
    o = load_table(spark, sf_dir, "orders")

    def stats(pred):
        return (
            o.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("tot"),
            )
        )

    cut = F.lit("1997-01-01").cast("date")
    t = stats(F.col("o_orderdate") < cut)
    s = stats(F.col("o_orderdate") >= cut)
    tn, sn = t.alias("t"), s.alias("s")
    return tn.join(sn, F.col("t.o_custkey") == F.col("s.o_custkey"), "full_outer").select(
        F.coalesce(F.col("t.o_custkey"), F.col("s.o_custkey")).alias("o_custkey"),
        (F.coalesce(F.col("t.n"), F.lit(0)) + F.coalesce(F.col("s.n"), F.lit(0))).alias(
            "n_orders"
        ),
        F.round(
            F.coalesce(F.col("t.tot"), F.lit(0.0)) + F.coalesce(F.col("s.tot"), F.lit(0.0)),
            2,
        ).alias("total_spent"),
        F.when(F.col("t.o_custkey").isNull(), F.lit("insert"))
        .when(F.col("s.o_custkey").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("merge_action"),
    )


@query(
    "cdc_apply_changes",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 3 <> 0
    ),
    changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 6 = 0 THEN 'delete' ELSE 'upsert' END AS op,
             o_orderstatus,
             round(o_totalprice * 1.1, 3) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    applied AS (
      SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
      FROM base b WHERE NOT EXISTS (
        SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey
      )
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM changes WHERE op = 'upsert'
    )
    SELECT o_orderstatus, count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS total
    FROM applied GROUP BY o_orderstatus
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: a change feed of upserts + tombstone deletes folded into a
    snapshot. Deletes and replaced rows leave via one left-anti join (every
    changed key exits the snapshot), upserts re-enter via a shuffle-free
    union — the batch form of the streaming signature-store maintenance in
    streaming/queries.py."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 6 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 1.1, 3).alias("o_totalprice"),
    )
    survivors = base.join(changes.select("o_orderkey"), "o_orderkey", "left_anti")
    upserts = changes.filter(F.col("op") == "upsert").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    applied = survivors.unionByName(upserts)
    return applied.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "cdc_latest_wins",
    oracle="""
    WITH feed AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
      FROM orders
    )
    SELECT o_custkey, o_orderpriority AS latest_priority
    FROM feed
    QUALIFY row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
    ) = 1
    ORDER BY o_custkey
    """,
)
def cdc_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins compaction of a change feed (one surviving version per
    key). Implemented as max(struct(version, payload)) — a partial-aggregable
    hash aggregate (map-side combine halves the shuffle), NOT a window sort:
    at 100 TB the window form sorts every partition, the struct-max form
    streams. Version key = (o_orderdate, o_orderkey) packed so the struct
    comparison is total."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max(
                F.struct(
                    F.col("o_orderdate"), F.col("o_orderkey"), F.col("o_orderpriority")
                )
            ).alias("v")
        )
        .select("o_custkey", F.col("v.o_orderpriority").alias("latest_priority"))
        .orderBy("o_custkey")
    )


@query(
    "scd2_priority_history",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev_p
      FROM orders
      WHERE o_custkey < 150
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT * FROM ordered
      WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    ),
    versioned AS (
      SELECT o_custkey, o_orderpriority,
             row_number() OVER w AS version,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER w AS next_from
      FROM changes
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, version, o_orderpriority,
           valid_from,
           coalesce(next_from, DATE '2199-12-31') AS valid_to,
           (next_from IS NULL) AS is_current
    FROM versioned
    """,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: each customer's order-priority
    timeline collapsed into validity intervals [valid_from, valid_to) with
    an is_current flag — change detection via lag(), interval close via
    lead(). Both window passes share one partitioning (o_custkey), so the
    plan has a single shuffle+sort reused across the two windows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
        .withColumn("prev_p", F.lag("o_orderpriority").over(w))
        .filter(F.col("prev_p").isNull() | (F.col("prev_p") != F.col("o_orderpriority")))
    )
    return changes.select(
        "o_custkey",
        F.row_number().over(w).alias("version"),
        "o_orderpriority",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("next_from"),
    ).select(
        "o_custkey",
        "version",
        "o_orderpriority",
        "valid_from",
        F.coalesce(F.col("next_from"), F.lit("2199-12-31").cast("date")).alias(
            "valid_to"
        ),
        F.col("next_from").isNull().alias("is_current"),
    )
