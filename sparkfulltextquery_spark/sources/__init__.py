"""Data sources / sinks.

Covers the reference's source/sink surface (SURVEY.md §2.1):
FileSourceScanExec / parquet / csv / json / text formats, DataFrameWriter
modes + partitionBy/bucketBy. In PySpark these are all one-liners on
``spark.read`` / ``df.write``; this module provides the canonical loaders for
the engine's test corpus and the managed-table drop that the index and
percolator-registry writers share.
"""

from sparkfulltextquery_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
    load_tables,
    register_views,
)
