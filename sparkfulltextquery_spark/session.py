"""SparkSession bootstrap.

Equivalent role to the reference's ``SparkSession`` entry point
(sql/core/src/main/scala/org/apache/spark/sql/SparkSession.scala) — but all we
need in PySpark is a builder with scale-aware defaults:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  the modern replacement for the reference's ExchangeCoordinator
  (sql/core/.../execution/exchange/ExchangeCoordinator.scala:82, off by default).
- shuffle.partitions sized to the local core count for tests; on a real
  cluster AQE coalesces from a high initial number, so the setting is safe.
- Arrow enabled for every Python<->JVM batch crossing (pandas_udf,
  toPandas) — the vectorized upgrade over the reference's pickle-batched
  BatchEvalPythonExec (sql/core/.../execution/python/BatchEvalPythonExec.scala:44).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- A fixed young generation for the driver JVM (an eighth of its heap), so
  query latency does not depend on what the process ran before
  (young_gen_opt).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def young_gen_opt(driver_memory: str) -> str:
    """``-Xmn`` for an eighth of a JVM memory size ("8g" -> "-Xmn1048576k"),
    or "" for a size this does not parse. G1 otherwise sizes eden by its
    pause goal: after a 10k-doc index build left ~1.2 GB of dead objects in
    the old generation (75 MB live), the same query loop ran 4 young GCs in
    one process and 35 in the next, its median query ~30 % slower."""
    m = re.fullmatch(r"(\d+)([kmgt])b?", driver_memory.strip().lower())
    return f"-Xmn{int(m[1]) * 1024 ** 'kmgt'.index(m[2]) // 8}k" if m else ""


def get_spark(
    app_name: str = "sparkfulltextquery",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are tuned for single-JVM local mode but every setting remains
    correct on a 1000-executor cluster: AQE decides final partition counts at
    runtime, broadcast threshold stays at Spark's default, and nothing here
    pins data to the driver.
    """
    cpus = default_parallelism()
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.driver.defaultJavaOptions", young_gen_opt(driver_memory))
        # Parquet vectorized reader + pushdown are on by default; keep explicit
        # so the parity with the reference's VectorizedParquetRecordReader
        # (sql/core/.../parquet/VectorizedParquetRecordReader.java:48) is visible.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Some producers (pandas/pyarrow) write TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let custom Python data sources (sources/pysource.py) absorb
        # predicates via pushFilters (off by default in Spark 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # r12 (optimization guide §4.4-class duplicate evaluation):
        # InferFiltersFromGenerate inserts `size(e) > 0 AND isnotnull(e)`
        # BELOW every Generate, where `e` is the generator input EXPRESSION.
        # Every explode in this engine generates from a derived expression
        # (tokenize/ngram/shingle chains), so the inferred filter re-evaluates
        # the whole regex-split pipeline 1-2 extra times per row under the
        # scan (visible in .explain as the duplicated `filter(split(lower(
        # text)...)` condition). Excluding the rule removes only that inferred
        # (redundant — explode already drops empty/null inputs) filter; results
        # are unchanged on all 387 oracle pairs. Measured at sf0.1:
        # fulltext_postings_topdf 0.85→0.60s, fulltext_bm25_search 0.98→0.76s,
        # fulltext_hybrid_rrf 1.26→1.03s; neutral on non-generate plans. The
        # win is scale-independent (the duplicated work is per input row).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
