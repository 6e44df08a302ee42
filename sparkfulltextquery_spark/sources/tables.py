"""Canonical table loaders for the engine's corpus.

Parity: the reference reads test tables through FileSourceScanExec with
column pruning + predicate pushdown (sql/core/.../execution/DataSourceScanExec.scala:141,
ParquetFileFormat.scala:54). `spark.read.parquet` plans the identical scan in
modern Spark — `.explain("formatted")` shows PushedFilters/ReadSchema; the
tests in tests/test_plans.py assert pushdown actually happens.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table. Scans stay columnar + pushdown-capable.

    TIMESTAMP(NANOS) columns (written by pandas/pyarrow) have no Spark type;
    with spark.sql.legacy.parquet.nanosAsLong they surface as LongType nanos
    and are converted here to proper timestamps (micros) — a projection on
    top of the scan, so pruning/pushdown on other columns is unaffected.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events":
        # must hold even when the caller supplies a vanilla SparkSession
        # (the driver's correctness harness does) — runtime-settable conf
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for `spark.sql` entry."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def drop_managed_table(spark: SparkSession, name: str) -> None:
    """Drop the managed table ``name`` and delete its warehouse location,
    also one ORPHANED by another session or process: the catalog is
    per-session and in memory here, the warehouse directory is not, and
    saveAsTable refuses an existing unowned directory
    (LOCATION_ALREADY_EXISTS). The delete goes through the Hadoop FS API,
    so it works on HDFS and S3A too. ``name`` must be unqualified: a
    ``db.tbl`` name would compute the wrong location."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(f"{wh}/{name.lower()}")
    fs = loc.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)


def compact_files(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction — the maintenance op every long-running 100 TB
    lake needs (the reference, a 2.0-era fork, predates any OPTIMIZE-style
    compaction; this is the engine-side equivalent). Sizes the output file
    count from the input bytes so each file lands near ``target_file_mb``
    (parquet row groups align with HDFS/S3 block economics), then rewrites
    with a shuffle-free coalesce when shrinking. Returns the file count.

    At scale this runs per-partition-directory (compact the partitions a
    writer fragmented, not the whole table), so the rewrite parallelism is
    the partition count, and nothing is driver-side but the size listing.
    """
    import glob

    in_bytes = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(in_dir.removeprefix("file://"), "*.parquet"))
    )
    n_files = max(1, round(in_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(in_dir)
    # coalesce: narrow (no shuffle) when reducing; repartition only to grow
    n_in = df.rdd.getNumPartitions()
    out = df.coalesce(n_files) if n_files <= n_in else df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_dir)
    return n_files


def cluster_rewrite(
    df: DataFrame,
    out_dir: str,
    cluster_cols: list[str],
    num_files: int = 8,
) -> None:
    """Range-cluster a table on ``cluster_cols`` and rewrite: rows are
    range-partitioned then sorted within each file, so every output file
    covers a narrow key range and parquet row-group min/max statistics
    prune file scans on those keys (the sort-based half of what Z-ordering
    buys, with zero custom layout code — repartitionByRange + 
    sortWithinPartitions compose it from Catalyst primitives).
    """
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
