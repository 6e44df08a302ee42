"""Persistent inverted index: bucketed posting table + corpus stats.

SURVEY.md §7 step 3: the posting table is persisted with bucketBy(term)
(reference DataFrameWriter.bucketBy, sql/core/.../DataFrameWriter.scala:170)
so a query's term lookup prunes to the buckets holding its terms — no
shuffle, no full scan. Document lengths are denormalized into the posting
rows and corpus stats (n_docs, avgdl) are precomputed once and folded into
scoring plans as cached literals; a search's per-term df is counted inside
its own plan over the pruned scan (the scan is bucketed by term, so the
count needs no exchange). Building a search plan therefore runs no Spark
job once the stats literals are cached.

At 100 TB: postings bucket count scales with corpus (e.g. 4096); stats and
df tables are small; a search touches |query_terms| buckets of the posting
table — independent of corpus size.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.fulltext import (
    BM25_B,
    BM25_K1,
    _py_tokenize,
    corpus_stats,
    doc_lengths,
    positional_postings,
)


_AUTO_BUCKETED_CONF = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
_PRIOR_AUTO_BUCKETED: dict[str, str | None] = {}


def _force_bucketed_scan(spark: SparkSession) -> None:
    """Pin bucketed reads on for index lookups. The planner's
    autoBucketedScan heuristic disables the bucketed scan when no operator
    above it keys on the bucket column — true for the array-expression
    phrase/proximity forms, which aggregate on doc_id — and bucket PRUNING
    (SelectedBucketsCount) only applies to bucketed scans. Every bucketed
    table this engine writes exists precisely for pruned term lookups, so
    forcing the bucketed read is always the right trade here (each bucket
    is one task; pruning skips whole files). Runtime-settable, so it works
    under the driver's vanilla session too.

    SESSION-WIDE EFFECT (documented per ADVICE r04): the conf must still
    be false when the returned lazy DataFrame is *executed*, so this
    cannot restore-on-return. Instead the prior value is recorded once per
    application; callers that interleave indexed queries with other
    bucketed-table work can call restore_auto_bucketed_scan(spark) after
    collecting their results."""
    app = spark.sparkContext.applicationId
    if app not in _PRIOR_AUTO_BUCKETED:
        _PRIOR_AUTO_BUCKETED[app] = spark.conf.get(_AUTO_BUCKETED_CONF, None)
    spark.conf.set(_AUTO_BUCKETED_CONF, "false")


def restore_auto_bucketed_scan(spark: SparkSession) -> None:
    """Undo _force_bucketed_scan: restore the conf value the session had
    before the first indexed query (or unset it if it was unset). Safe to
    call when no indexed query ever ran."""
    app = spark.sparkContext.applicationId
    if app not in _PRIOR_AUTO_BUCKETED:
        return
    prior = _PRIOR_AUTO_BUCKETED.pop(app)
    if prior is None:
        spark.conf.unset(_AUTO_BUCKETED_CONF)
    else:
        spark.conf.set(_AUTO_BUCKETED_CONF, prior)


def build_index(
    docs: DataFrame,
    table_prefix: str = "sftq_index",
    num_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str | None = None,
    term_vectors: bool = True,
) -> dict[str, str]:
    """Materialize the inverted index: bucketed postings + df + doc lengths +
    corpus stats. Returns the table names. `path` makes the tables external
    at an explicit location (warehouse.dir is a static conf and cannot be
    changed per-session).

    Concurrency contract (ADVICE r05): the stats table carries a
    `generation` stamp unique per build, and a build invalidates THIS
    process's literal/plan caches. A rebuild by ANOTHER process is not
    auto-detected — the persisted index assumes a single writer, and
    readers in other long-lived sessions must call
    ``refresh_index_caches(spark, table_prefix)`` (which compares the
    persisted stamp and drops stale caches) after an external rebuild.
    This is the same discipline as Spark's own ``REFRESH TABLE`` for
    externally-rewritten file tables (Catalog.refreshTable)."""
    spark = docs.sparkSession
    # a rebuild over changed data must not serve the previous build's
    # n_docs/avgdl/df literals into new scoring plans (ADVICE r04) — drop
    # this prefix's cached stats before writing the new generation
    skey = (spark.sparkContext.applicationId, table_prefix)
    _INDEX_STATS_CACHE.pop(skey, None)
    _INDEX_DF_CACHE.pop(skey, None)
    for ck in [k for k in _FIELD_STATS_CACHE if k[:2] == skey]:
        _FIELD_STATS_CACHE.pop(ck, None)
    for ck in [k for k in _COMPILED_QUERY_CACHE if k[:2] == skey]:
        _COMPILED_QUERY_CACHE.pop(ck, None)
    names = {
        "postings": f"{table_prefix}_postings",
        "doc_freq": f"{table_prefix}_df",
        "doc_len": f"{table_prefix}_dl",
        "stats": f"{table_prefix}_stats",
    }
    if term_vectors:
        names["tvec"] = f"{table_prefix}_tvec"
        names["norms"] = f"{table_prefix}_norms"
    # managed-table overwrite must also adopt a location ORPHANED by a
    # previous session/process (r9, surfaced by the README quickstart:
    # catalog metadata is per-session in-memory here, the warehouse
    # directory is not — saveAsTable refuses the unowned directory with
    # LOCATION_ALREADY_EXISTS). Same drop + Hadoop-FS delete protocol as
    # register_percolator_queries; external builds (path=...) overwrite
    # their explicit location and only need the catalog drop.
    jvm = spark.sparkContext._jvm
    wh = spark.conf.get("spark.sql.warehouse.dir")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for t in names.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if not path:
            loc = jvm.org.apache.hadoop.fs.Path(f"{wh}/{t.lower()}")
            fs = loc.getFileSystem(hconf)
            if fs.exists(loc):
                fs.delete(loc, True)

    def writer(df: DataFrame, name: str):
        w = df.write.mode("overwrite")
        if path:
            w = w.option("path", f"{path}/{name}")
        return w

    # positional postings (term, doc_id, tf, positions, dl) — the positions
    # column is what lets phrase queries run off pruned buckets instead of
    # re-tokenizing the corpus (VERDICT r1 weak item); the doc length is
    # DENORMALIZED into each posting row at build time (classic posting-list
    # layout) so BM25 scoring needs no corpus-sized dl join at query time —
    # the one non-broadcast join the r03 query plan carried. Build-time
    # cost: one extra join here + 8 bytes/posting.
    post = positional_postings(docs, id_col, text_col).join(
        doc_lengths(docs, id_col, text_col), "doc_id"
    )
    (
        writer(post.repartition(num_buckets, "term"), names["postings"])
        .bucketBy(num_buckets, "term")
        .sortBy("term")
        .saveAsTable(names["postings"])
    )
    # df is computed from the bucketed table — bucket-local aggregation
    writer(
        spark.table(names["postings"]).groupBy("term").agg(F.count(F.lit(1)).alias("df")),
        names["doc_freq"],
    ).saveAsTable(names["doc_freq"])
    writer(doc_lengths(docs, id_col, text_col), names["doc_len"]).saveAsTable(
        names["doc_len"]
    )
    # generation stamp: unique per build, read back by refresh_index_caches
    # so an externally-rebuilt index can be detected and this process's
    # literal/plan caches dropped (ADVICE r05)
    import uuid

    writer(
        corpus_stats(docs, id_col, text_col).withColumn(
            "generation", F.lit(uuid.uuid4().hex)
        ),
        names["stats"],
    ).saveAsTable(names["stats"])
    if term_vectors:
        # forward index (Lucene term-vectors + norms analogue, r6): the
        # posting relation re-bucketed by doc_id, so doc-keyed lookups
        # (more-like-this query vectors, per-doc tf-idf) prune to ONE
        # bucket instead of scanning the term-bucketed postings; plus the
        # per-doc tf-idf L2 norm precomputed at build time — cosine
        # ranking needs every candidate's norm, which would otherwise
        # force a full forward scan at query time (Lucene stores norms at
        # index time for exactly this reason).
        tv = spark.table(names["postings"]).select("doc_id", "term", "tf")
        (
            writer(tv.repartition(num_buckets, "doc_id"), names["tvec"])
            .bucketBy(num_buckets, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(names["tvec"])
        )
        n_docs = int(spark.table(names["stats"]).head().n_docs)
        dfreq = spark.table(names["doc_freq"])
        wt = F.col("tf") * F.log(
            F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0))
        )
        writer(
            tv.join(F.broadcast(dfreq), "term")
            .groupBy("doc_id")
            .agg(F.sqrt(F.sum(wt * wt)).alias("nrm")),
            names["norms"],
        ).saveAsTable(names["norms"])
    return names


_INDEX_STATS_CACHE: dict = {}
_INDEX_DF_CACHE: dict = {}
_INDEX_GEN_CACHE: dict = {}

#: Most compiled search plans kept per process. Each cached plan pins the
#: shuffle files of its last run until it is dropped, so the cache is an
#: LRU: a long-lived session serving ever-new query texts stays bounded.
COMPILED_QUERY_CACHE_MAX = 64
_COMPILED_QUERY_CACHE: OrderedDict = OrderedDict()


def _compiled_plan(
    spark: SparkSession, ckey: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The cached search DataFrame for `ckey` (keyed `(app, prefix, ...)`
    so build_index/refresh_index_caches drop a prefix's plans), else
    `build()`'s, cached with least-recently-used eviction."""
    cached = _COMPILED_QUERY_CACHE.get(ckey)
    if cached is not None:
        _COMPILED_QUERY_CACHE.move_to_end(ckey)
        _force_bucketed_scan(spark)
        return cached
    df = build()
    _COMPILED_QUERY_CACHE[ckey] = df
    while len(_COMPILED_QUERY_CACHE) > COMPILED_QUERY_CACHE_MAX:
        _COMPILED_QUERY_CACHE.popitem(last=False)
    return df


def refresh_index_caches(spark: SparkSession, table_prefix: str = "sftq_index") -> bool:
    """Cross-process cache revalidation: re-read the persisted stats table's
    generation stamp; if it differs from the one this process cached, drop
    the stale n_docs/avgdl/df literals and compiled plans (and Spark's own
    file-listing caches via REFRESH TABLE) so subsequent searches see the
    new build. Returns True when stale caches were dropped. Call after an
    index rebuild performed by ANOTHER process — same-process rebuilds via
    build_index invalidate automatically."""
    skey = (spark.sparkContext.applicationId, table_prefix)
    # refresh the stats relation BEFORE reading the stamp: the stamp read
    # must not be served from this session's cached file listing, or an
    # external rebuild that leaves the old part files readable (partial
    # overwrite, eventually-consistent store) would return the OLD
    # generation and staleness would go undetected
    try:
        spark.catalog.refreshTable(f"{table_prefix}_stats")
    except Exception:
        pass
    try:
        row = spark.table(f"{table_prefix}_stats").head()
        current = getattr(row, "generation", None)
    except Exception:
        current = None
    cached = _INDEX_GEN_CACHE.get(skey)
    if cached is not None and cached == current:
        return False
    # includes the optional forward-index tables (tvec/norms); refreshTable
    # on a prefix that was built without them is a swallowed no-op
    for name in ("postings", "df", "dl", "stats", "tvec", "norms"):
        try:
            spark.catalog.refreshTable(f"{table_prefix}_{name}")
        except Exception:
            pass
    _INDEX_STATS_CACHE.pop(skey, None)
    _INDEX_DF_CACHE.pop(skey, None)
    for ck in [k for k in _FIELD_STATS_CACHE if k[:2] == skey]:
        _FIELD_STATS_CACHE.pop(ck, None)
    _INDEX_GEN_CACHE[skey] = current
    for ck in [k for k in _COMPILED_QUERY_CACHE if k[:2] == skey]:
        _COMPILED_QUERY_CACHE.pop(ck, None)
    return True


def _df_stats_literals(
    spark: SparkSession, table_prefix: str, terms: list[str]
) -> tuple[int, float, dict[str, int]]:
    """(n_docs, avgdl, {term: df}) as DRIVER-side literals for scoring
    expressions. Both lookups are bounded: stats is one row (cached per
    session+index), df collects ≤|query terms| rows via a pushed-down
    filter (cached per term — the cache grows only with distinct queried
    terms, a workload-bounded set).

    bm25_scores_indexed and search_indexed take only n_docs/avgdl from
    here (no terms, no df job): they count df inside the query plan. The
    percolator takes df too, pinned per stored query at registration, as
    do more-like-this and BM25F search. idf is still computed BY
    the JVM (the literals feed an F.log expression Catalyst
    constant-folds), so float behavior is bit-identical to a join against
    the df table."""
    skey = (spark.sparkContext.applicationId, table_prefix)
    if skey not in _INDEX_STATS_CACHE:
        r = spark.table(f"{table_prefix}_stats").head()
        _INDEX_STATS_CACHE[skey] = (int(r.n_docs), float(r.avgdl))
        # remember which build these literals came from, so
        # refresh_index_caches can detect an external rebuild
        _INDEX_GEN_CACHE[skey] = getattr(r, "generation", None)
    n_docs, avgdl = _INDEX_STATS_CACHE[skey]
    dfc = _INDEX_DF_CACHE.setdefault(skey, {})
    missing = [t for t in terms if t not in dfc]
    if missing:
        rows = (
            spark.table(f"{table_prefix}_df")
            .filter(F.col("term").isin(missing))
            .collect()
        )
        dfc.update({r.term: int(r.df) for r in rows})
        for t in missing:  # term absent from the corpus: df = 0
            dfc.setdefault(t, 0)
    return n_docs, avgdl, {t: dfc[t] for t in terms}


def _df_over_term() -> Column:
    """Per-term document frequency of a postings relation, in plan: each
    (term, doc_id) pair is one posting row, so df is the row count of the
    term's partition. Over a term-bucketed scan the window needs only a
    within-task sort — no exchange."""
    return F.expr("count(1) OVER (PARTITION BY term)")


def _bm25_term_score(
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    boosts: dict[str, float] | None = None,
) -> tuple[Column, Column]:
    """(idf, tscore) over a posting relation carrying term, tf, dl and df
    columns: the BM25 term weight and its saturated, length-normalized
    contribution, the formula fulltext.bm25_term_scores evaluates.
    `term^N` boosts scale idf through one CASE on term (query terms are
    tokenizer output, [a-z0-9]+). Each is parsed from one SQL string: a
    Column built op by op costs a driver round trip per op."""
    idf = f"ln(1.0D + ({int(n_docs)} - df + 0.5D) / (df + 0.5D))"
    boosted = sorted((t, float(w)) for t, w in (boosts or {}).items() if w != 1.0)
    if boosted:
        whens = " ".join(f"WHEN '{t}' THEN {w!r}D" for t, w in boosted)
        idf = f"CASE term {whens} ELSE 1.0D END * {idf}"
    k1, b, avgdl = float(k1), float(b), float(avgdl)
    tscore = (
        f"{idf} * (tf * {k1 + 1!r}D)"
        f" / (tf + {k1!r}D * ({1 - b!r}D + {b!r}D * dl / {avgdl!r}D))"
    )
    return F.expr(idf), F.expr(tscore)


def bm25_scores_indexed(
    spark: SparkSession,
    query: str,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
    boosts: dict[str, float] | None = None,
    explain: bool = False,
) -> DataFrame:
    """Un-truncated BM25 (doc_id, score) over the persisted index. The
    postings scan is pruned to the query terms' buckets (plan shows
    SelectedBucketsCount); the doc length rides in the posting rows
    (denormalized at build), df is counted in plan over the pruned scan
    (_df_over_term) and n_docs/avgdl fold in as cached driver literals —
    the whole query is ONE pruned scan + one doc_id agg, zero joins,
    corpus-size-independent, and building it runs no Spark job. Scoring
    formula identical to fulltext.bm25_scores."""
    _force_bucketed_scan(spark)
    q_terms = sorted(set(_py_tokenize(query)))
    if not q_terms:
        raise ValueError("empty query after tokenization")
    n_docs, avgdl, _ = _df_stats_literals(spark, table_prefix, [])
    post = (
        spark.table(f"{table_prefix}_postings")
        .filter(F.col("term").isin(q_terms))
        .select("doc_id", "term", "tf", "dl", _df_over_term().alias("df"))
    )
    idf, tscore = _bm25_term_score(n_docs, avgdl, k1, b, boosts)
    if explain:
        return post.select(
            "doc_id", "term", "tf", "df", idf.alias("idf"), tscore.alias("tscore")
        )
    return post.groupBy("doc_id").agg(F.round(F.sum(tscore), 4).alias("score"))


def bm25_explain_indexed(
    spark: SparkSession,
    query: str,
    k: int = 10,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene-style explain off the persisted index: per-term tf/df/idf/
    contribution rows for the top-k docs. Same pruned-bucket scan as
    bm25_scores_indexed (df counted in plan per term); the k-row top-k
    broadcasts back into the term relation."""
    from sparkfulltextquery_spark.functions.fulltext import explain_from_term_scores

    ts = bm25_scores_indexed(spark, query, table_prefix, k1, b, explain=True)
    return explain_from_term_scores(ts, k)


def bm25_search_indexed(
    spark: SparkSession,
    query: str,
    k: int = 10,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k over the persisted index (TakeOrderedAndProject heap).
    The plan is served from the compiled-plan cache, as search_indexed's
    is, so a repeated query skips construction and reuses its shuffle."""
    ckey = (spark.sparkContext.applicationId, table_prefix, "bm25", query, k, k1, b)
    return _compiled_plan(
        spark,
        ckey,
        lambda: bm25_scores_indexed(spark, query, table_prefix, k1, b)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k),
    )


_FIELD_STATS_CACHE: dict = {}


def _dismax_field_stats(
    spark: SparkSession, table_prefix: str, terms: list[str], title_len: int
) -> tuple[int, dict[str, float], dict[tuple[str, str], int]]:
    """(n_docs, {field: avgdl}, {(field, term): df}) as driver literals for
    the per-field sub-index scoring of dismax_search_indexed. Both jobs are
    bounded: avgdl is ONE row aggregated from the persisted dl table (the
    positional title/body carving derives per-field lengths arithmetically
    — dl_title = least(dl, L), dl_body = dl − dl_title — so no corpus
    re-tokenization), df collects ≤|query terms| rows off the pruned
    postings with per-field tf recovered from the stored position arrays.
    Cached per (session, index, carving), same discipline as
    _df_stats_literals; avgdl is computed BY Spark so the literal is
    bit-identical to the inline scorer's F.avg."""
    n_docs, _avgdl, _ = _df_stats_literals(spark, table_prefix, [])
    skey = (spark.sparkContext.applicationId, table_prefix, title_len)
    if skey not in _FIELD_STATS_CACHE:
        dl_t = F.least(F.col("dl"), F.lit(title_len))
        row = (
            spark.table(f"{table_prefix}_dl")
            .agg(
                F.avg(dl_t).alias("avg_t"),
                F.avg(F.col("dl") - dl_t).alias("avg_b"),
            )
            .head()
        )
        _FIELD_STATS_CACHE[skey] = (
            {"title": float(row.avg_t), "body": float(row.avg_b)},
            {},
        )
    avgdl_of, dfc = _FIELD_STATS_CACHE[skey]
    missing = [t for t in terms if ("title", t) not in dfc]
    if missing:
        tf_t = F.size(
            F.filter("positions", lambda p: p < F.lit(title_len))
        )
        rows = (
            spark.table(f"{table_prefix}_postings")
            .filter(F.col("term").isin(missing))
            .select("term", tf_t.alias("tf_t"), "tf")
            .groupBy("term")
            .agg(
                F.count(F.when(F.col("tf_t") > 0, 1)).alias("df_t"),
                F.count(F.when(F.col("tf") - F.col("tf_t") > 0, 1)).alias("df_b"),
            )
            .collect()
        )
        for r in rows:
            dfc[("title", r.term)] = int(r.df_t)
            dfc[("body", r.term)] = int(r.df_b)
        for t in missing:  # term absent from the corpus in this field
            dfc.setdefault(("title", t), 0)
            dfc.setdefault(("body", t), 0)
    return n_docs, avgdl_of, {(f, t): dfc[(f, t)] for f in ("title", "body") for t in terms}


def dismax_scores_indexed(
    spark: SparkSession,
    query: str,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
    tie: float = 0.3,
) -> DataFrame:
    """Disjunction-max (doc_id, score) over the persisted index — the
    indexed twin of fulltext.dismax_search (same formula, same
    deterministic title/body carving, same shared-n_docs idf convention).
    ONE bucket-pruned postings scan, ZERO joins:

    - per-field tf is recovered per posting row from the stored position
      array (tf_title = |positions < title_len|, tf_body = tf − tf_title);
    - per-field dl derives from the denormalized dl column arithmetically;
    - per-field df and avgdl fold in as driver literals
      (_dismax_field_stats — both bounded jobs, cached per session+index);
    - each field's independent BM25 score is a column expression; the
      DisMax fusion max_f + tie·(Σ_f − max_f) is greatest/coalesce over
      the ≤2 field scores (a missing field, tf_f = 0, contributes NULL —
      excluded exactly as the inline scorer's absent (doc, field) row).

    The whole query is the pruned scan + one doc_id aggregation —
    corpus-size-independent, the same plan class as bm25_scores_indexed."""
    from sparkfulltextquery_spark.functions.fulltext import BM25F_TITLE_LEN

    title_len = BM25F_TITLE_LEN
    _force_bucketed_scan(spark)
    q_terms = sorted(set(_py_tokenize(query)))
    if not q_terms:
        raise ValueError("empty query after tokenization")
    n_docs, avgdl_of, df_of = _dismax_field_stats(
        spark, table_prefix, q_terms, title_len
    )

    def idf_expr(field: str):
        e = F.lit(None).cast("double")
        for t in q_terms:
            dfv = df_of[(field, t)]
            e = F.when(
                F.col("term") == t,
                F.log(
                    F.lit(1.0)
                    + (F.lit(n_docs) - F.lit(dfv) + F.lit(0.5))
                    / (F.lit(dfv) + F.lit(0.5))
                ),
            ).otherwise(e)
        return e

    def field_score(field: str, tf_col, dl_col):
        return F.when(
            tf_col > 0,
            idf_expr(field)
            * (tf_col * (k1 + 1))
            / (
                tf_col
                + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * dl_col / F.lit(avgdl_of[field]))
            ),
        )

    post = spark.table(f"{table_prefix}_postings").filter(
        F.col("term").isin(q_terms)
    )
    staged = post.select(
        "doc_id",
        "term",
        "tf",
        "dl",
        F.size(F.filter("positions", lambda p: p < F.lit(title_len))).alias("tf_t"),
        F.least(F.col("dl"), F.lit(title_len)).alias("dl_t"),
    ).select(
        "doc_id",
        "term",
        field_score("title", F.col("tf_t"), F.col("dl_t")).alias("s_t"),
        field_score(
            "body", F.col("tf") - F.col("tf_t"), F.col("dl") - F.col("dl_t")
        ).alias("s_b"),
    )
    best = F.greatest(F.col("s_t"), F.col("s_b"))
    dm = best + F.lit(tie) * (
        F.coalesce(F.col("s_t"), F.lit(0.0))
        + F.coalesce(F.col("s_b"), F.lit(0.0))
        - best
    )
    return (
        staged.select("doc_id", dm.alias("dm"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("dm"), 4).alias("score"))
    )


def dismax_search_indexed(
    spark: SparkSession,
    query: str,
    k: int = 10,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
    tie: float = 0.3,
) -> DataFrame:
    """DisMax top-k over the persisted index (TakeOrderedAndProject heap)."""
    scored = dismax_scores_indexed(spark, query, table_prefix, k1, b, tie)
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def phrase_match_indexed(
    spark: SparkSession,
    phrase: str,
    table_prefix: str = "sftq_index",
    slop: int = 0,
) -> DataFrame:
    """Exact-phrase match off the persisted positional index: read ONLY the
    phrase terms' buckets (SelectedBucketsCount pruning), gather each slot
    term's stored position array per doc in ONE aggregation, and count the
    start positions p where slot i's array contains p+i — pure array
    expressions inside codegen, no posexplode and no positional join (the
    r03 form exploded each slot's positions and equi-joined per phrase
    word; at k slots that was k-1 joins over tf-expanded relations).
    Returns (doc_id, n_occurrences).

    At 100 TB a phrase query touches |phrase terms| buckets of the postings
    table — independent of corpus size (reference bucketed-read behavior,
    DataFrameWriter.scala:170 + FileSourceScanExec bucket pruning)."""
    _force_bucketed_scan(spark)
    terms = _py_tokenize(phrase)
    if not terms:
        raise ValueError("empty phrase")
    uniq = sorted(set(terms))
    post = spark.table(f"{table_prefix}_postings").filter(F.col("term").isin(uniq))
    # one row per doc: the position array of each distinct phrase term
    slots = post.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"_pos_{i}")
            for i, t in enumerate(uniq)
        ]
    )
    col_of = {t: f"_pos_{i}" for i, t in enumerate(uniq)}
    # a doc lacking any slot term can't match (its array is NULL)
    for t in uniq:
        slots = slots.filter(F.col(col_of[t]).isNotNull())
    if slop:
        # ordered sloppy phrase off the stored position arrays — the same
        # greedy-chain exists-semantics as fulltext.slop_starts_expr
        from sparkfulltextquery_spark.functions.fulltext import slop_starts_expr

        starts = slop_starts_expr(
            {t: F.col(col_of[t]) for t in uniq}, terms, slop
        )
    else:
        starts = F.filter(
            F.col(col_of[terms[0]]),
            lambda p: reduce_and(
                [
                    F.array_contains(F.col(col_of[t]), p + F.lit(i))
                    for i, t in enumerate(terms[1:], start=1)
                ]
            ),
        )
    return (
        slots.select("doc_id", F.size(starts).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def reduce_and(conds):
    """AND-fold a non-empty list of Columns (single-word phrases fold to
    the always-true literal: every occurrence of the word is a match)."""
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def proximity_match_indexed(
    spark: SparkSession,
    term_a: str,
    term_b: str,
    window: int = 5,
    table_prefix: str = "sftq_index",
) -> DataFrame:
    """NEAR/k proximity off the persisted positional index: read only the
    two terms' buckets, gather both stored position arrays per doc in one
    aggregation, and count/min the |pa-pb| <= window pairs with array
    expressions — no explode, no join (r03 exploded both arrays and
    theta-joined on doc_id). Same corpus-size-independent bucket pruning
    as phrase_match_indexed. Returns (doc_id, n_pairs, min_distance)."""
    _force_bucketed_scan(spark)
    post = spark.table(f"{table_prefix}_postings").filter(
        F.col("term").isin(sorted({term_a, term_b}))
    )
    both = (
        post.groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("term") == term_a, F.col("positions"))).alias("pa"),
            F.max(F.when(F.col("term") == term_b, F.col("positions"))).alias("pb"),
        )
        .filter(F.col("pa").isNotNull() & F.col("pb").isNotNull())
    )
    dists = F.flatten(
        F.transform(
            F.col("pa"),
            lambda p: F.transform(
                F.filter(F.col("pb"), lambda q: F.abs(q - p) <= F.lit(window)),
                lambda q: F.abs(q - p),
            ),
        )
    )
    return (
        both.select(
            "doc_id",
            F.size(dists).alias("n_pairs"),
            F.array_min(dists).alias("min_distance"),
        )
        .filter(F.col("n_pairs") > 0)
    )


def suggest_terms(
    spark: SparkSession,
    prefix: str,
    top: int = 10,
    table_prefix: str = "sftq_index",
) -> DataFrame:
    """Typeahead autocomplete: top vocabulary terms for a prefix, ranked by
    document frequency — a StartsWith band over the persisted TERM
    DICTIONARY (the doc-frequency table: one row per distinct term,
    O(|vocab|)) + a bounded top-k heap. r8: previously this scanned the
    postings relation and re-aggregated df per term — O(total postings)
    for a result the index already stores. Returns (term, df)."""
    return (
        spark.table(f"{table_prefix}_df")
        .filter(F.col("term").startswith(prefix))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top)
    )


# r8 file-size split: expansion-atom dictionary resolution lives in
# index_expand; imported here (and re-exported) so callers keep working
from sparkfulltextquery_spark.functions.index_expand import (  # noqa: E402
    MAX_EXPANSIONS,
    resolve_expansions,
    resolve_expansions_over,
)


def search_indexed(
    spark: SparkSession,
    query: str,
    k: int = 10,
    table_prefix: str = "sftq_index",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Boolean query language (querylang grammar) evaluated entirely off the
    persisted index — as ONE pass when the query isn't pure negation:

        pruned scan (every atom + ranking term's buckets, one
        SelectedBucketsCount read) → per-term df counted in plan over that
        scan → a single groupBy(doc_id) computing term flags, phrase-slot
        position arrays, AND the BM25 score together → boolean-expression
        filter → top-k heap.

    No join, no per-atom scan, no phrase explode — the whole search is
    scan + window + agg + heap, with one exchange (on doc_id). n_docs and
    avgdl are cached literals, so building the plan runs no Spark job
    unless the query has expansion atoms (prefix/fuzzy/range/regex/
    wildcard), which resolve against the term dictionary in one job
    first. Pure-negation queries (satisfiable by a doc with no query term)
    still take compile_matches with the doc-length universe.

    Compiled plans are cached per (application, index, query text, k,
    max_expansions) — the prepared-statement discipline: a repeated query
    skips construction and reuses its plan's shuffle output. The cache is
    an LRU bounded by COMPILED_QUERY_CACHE_MAX and is invalidated with the
    stats caches on build_index.

    Concurrency contract (ADVICE r05): cached literals and plans assume a
    single writer in this process. If another process rebuilds the index at
    the same path, call ``refresh_index_caches(spark, table_prefix)`` —
    it compares the persisted generation stamp and drops stale caches."""
    ckey = (spark.sparkContext.applicationId, table_prefix, query, k, max_expansions)
    return _compiled_plan(
        spark,
        ckey,
        lambda: _search_indexed_build(spark, query, k, table_prefix, max_expansions),
    )


def _search_indexed_build(
    spark: SparkSession,
    query: str,
    k: int,
    table_prefix: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    _force_bucketed_scan(spark)
    from sparkfulltextquery_spark.functions import querylang as QL

    ast = QL.parse_query(query)
    post = spark.table(f"{table_prefix}_postings")
    pos = sorted(set(QL.positive_terms(ast)))

    terms, phrases, prefixes = QL._collect_atoms(ast)
    nears = sorted(QL.collect_nears(ast))
    fields = sorted(QL.collect_fields(ast))
    fuzzies = sorted(QL.collect_fuzzies(ast))
    ranges = sorted(QL.collect_ranges(ast))
    regexes = sorted(QL.collect_regexes(ast))
    wildcards = sorted(QL.collect_wildcards(ast))
    fphrases = sorted(QL.collect_fieldphrases(ast))
    fprefixes = sorted(QL.collect_fieldprefixes(ast))
    ffuzzies = sorted(QL.collect_fieldfuzzies(ast))
    franges = sorted(QL.collect_fieldranges(ast))
    fwilds = sorted(QL.collect_fieldwildcards(ast))
    ppfxs = sorted(QL.collect_phraseprefixes(ast))

    # expansion atoms resolve against the persisted term DICTIONARY first
    # (VERDICT r07 #1; Lucene MultiTermQuery rewrites to concrete term
    # disjunctions before the index is consulted) — the matched terms fold
    # into the equality isin below, so the posting scan stays bucket-pruned
    # and equality-only; no LIKE/levenshtein/RLIKE/StartsWith ever touches
    # the postings relation. Field scoping never affects term-level
    # matching (the field carve applies to stored positions at flag time),
    # so field-scoped atoms share their plain atom's resolution.
    expansion = resolve_expansions(
        spark,
        table_prefix,
        prefixes=set(prefixes)
        | {w for _f, w in fprefixes}
        | {ppx for _lead, ppx in ppfxs},
        fuzzies=set(fuzzies) | {(zt, zd) for _f, zt, zd in ffuzzies},
        ranges=set(ranges) | {(lo, hi) for _f, lo, hi in franges},
        regexes=set(regexes),
        wildcards=set(wildcards) | {w for _f, w in fwilds},
        max_expansions=max_expansions,
    )

    def exp_terms(kind: str, key) -> list:
        return expansion.get((kind, key), [])

    def exp_isin(kind: str, key):
        ts = exp_terms(kind, key)
        return F.col("term").isin(ts) if ts else F.lit(False)

    if QL._eval_empty(ast):
        # pure negation: needs the universe; rare, cold path
        phrase_fn = lambda text, slop=0: phrase_match_indexed(  # noqa: E731
            spark, text, table_prefix, slop=slop
        ).select("doc_id")
        near_fn = lambda a, b, k: proximity_match_indexed(  # noqa: E731
            spark, a, b, k, table_prefix
        ).select("doc_id")

        def field_fn(field: str, term: str):
            # field membership from the stored position arrays — same
            # title carving as bm25f_search (first BM25F_TITLE_LEN tokens)
            from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

            pos_pred = field_pos_pred(field)
            return (
                post.filter(F.col("term") == term)
                .filter(F.exists(F.col("positions"), pos_pred))
                .select("doc_id")
            )

        def fphrase_fn(field: str, text: str):
            from sparkfulltextquery_spark.functions.fulltext import (
                BM25F_TITLE_LEN,
                exact_starts_expr,
            )

            terms = _py_tokenize(text)
            uniq = sorted(set(terms))
            slots = (
                post.filter(F.col("term").isin(uniq))
                .groupBy("doc_id")
                .agg(
                    *[
                        F.max(
                            F.when(F.col("term") == t, F.col("positions"))
                        ).alias(f"_fp_{i}")
                        for i, t in enumerate(uniq)
                    ]
                )
            )
            arr_of = {t: F.col(f"_fp_{i}") for i, t in enumerate(uniq)}
            for t in uniq:
                slots = slots.filter(arr_of[t].isNotNull())
            n = len(terms)
            in_field = (
                (lambda p: p <= F.lit(BM25F_TITLE_LEN - n))
                if field == "title"
                else (lambda p: p >= F.lit(BM25F_TITLE_LEN))
            )
            starts = F.filter(exact_starts_expr(arr_of, terms), in_field)
            return slots.filter(F.size(starts) > 0).select("doc_id")

        # field-scoped expansion fns share the plain atom's dictionary
        # resolution — the posting filter is the resolved equality isin,
        # the field carve applies to stored positions
        def fprefix_fn(field: str, prefix: str):
            from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

            pos_pred = field_pos_pred(field)
            return (
                post.filter(exp_isin("prefix", prefix))
                .filter(F.exists(F.col("positions"), pos_pred))
                .select("doc_id")
                .distinct()
            )

        def ffuzzy_fn(field: str, text: str, dist: int):
            from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

            pos_pred = field_pos_pred(field)
            return (
                post.filter(exp_isin("fuzzy", (text, dist)))
                .filter(F.exists(F.col("positions"), pos_pred))
                .select("doc_id")
                .distinct()
            )

        def frange_fn(field: str, lo: str, hi: str):
            from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

            pos_pred = field_pos_pred(field)
            return (
                post.filter(exp_isin("range", (lo, hi)))
                .filter(F.exists(F.col("positions"), pos_pred))
                .select("doc_id")
                .distinct()
            )

        def fwild_fn(field: str, pattern: str):
            from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

            pos_pred = field_pos_pred(field)
            return (
                post.filter(exp_isin("wild", pattern))
                .filter(F.exists(F.col("positions"), pos_pred))
                .select("doc_id")
                .distinct()
            )

        def ppfx_fn(text: str, prefix: str):
            from sparkfulltextquery_spark.functions.fulltext import (
                exact_starts_expr,
            )

            exact = _py_tokenize(text)
            uniq = sorted(set(exact))
            slots = (
                post.filter(
                    F.col("term").isin(
                        sorted(set(uniq) | set(exp_terms("prefix", prefix)))
                    )
                )
                .groupBy("doc_id")
                .agg(
                    *[
                        F.max(F.when(F.col("term") == t, F.col("positions"))).alias(
                            f"_e{i}"
                        )
                        for i, t in enumerate(uniq)
                    ],
                    F.flatten(
                        F.collect_list(
                            F.when(exp_isin("prefix", prefix), F.col("positions"))
                        )
                    ).alias("_pp"),
                )
            )
            arr_of = {t: F.col(f"_e{i}") for i, t in enumerate(uniq)}
            for t in uniq:
                slots = slots.filter(arr_of[t].isNotNull())
            n_lead = len(exact)
            starts = F.filter(
                exact_starts_expr(arr_of, exact),
                lambda pp: F.exists(F.col("_pp"), lambda q: q == pp + F.lit(n_lead)),
            )
            return slots.filter(F.size(starts) > 0).select("doc_id")

        def term_resolver(node):
            # plain expansion atoms resolve through the same dictionary
            # lists as the one-pass path — equality-only posting filters
            if isinstance(node, QL.Prefix):
                return exp_terms("prefix", node.text)
            if isinstance(node, QL.Fuzzy):
                return exp_terms("fuzzy", (node.text, node.dist))
            if isinstance(node, QL.TermRange):
                return exp_terms("range", (node.lo, node.hi))
            if isinstance(node, QL.Regex):
                return exp_terms("regex", node.pattern)
            if isinstance(node, QL.Wildcard):
                return exp_terms("wild", node.pattern)
            return None

        universe = spark.table(f"{table_prefix}_dl").select("doc_id")
        matched = QL.compile_matches(
            ast, post, phrase_fn=phrase_fn, universe=universe, near_fn=near_fn,
            field_fn=field_fn, fphrase_fn=fphrase_fn, fprefix_fn=fprefix_fn,
            ffuzzy_fn=ffuzzy_fn, frange_fn=frange_fn, fwild_fn=fwild_fn,
            ppfx_fn=ppfx_fn, term_resolver=term_resolver,
        )
        if not pos:
            return (
                matched.select("doc_id", F.lit(0.0).alias("score"))
                .orderBy("doc_id")
                .limit(k)
            )
        scored = bm25_scores_indexed(
            spark, " ".join(pos), table_prefix, boosts=QL.term_boosts(ast)
        )
        return (
            matched.join(scored, "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("score"), F.lit(0.0)).alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id"))
            .limit(k)
        )

    ppfx_toks = {pp: _py_tokenize(pp[0]) for pp in ppfxs}
    ppfx_terms = {t for ts in ppfx_toks.values() for t in ts}
    near_terms = {t for (a, b, _k) in nears for t in (a, b)}
    field_terms = {t for (_f, t) in fields}
    fphrase_toks = {fp: _py_tokenize(fp[1]) for fp in fphrases}
    fphrase_terms = {t for ts in fphrase_toks.values() for t in ts}
    phrase_toks = {p: _py_tokenize(p[0]) for p in sorted(phrases)}
    all_terms = sorted(
        terms
        | {t for ts in phrase_toks.values() for t in ts}
        | near_terms
        | field_terms
        | fphrase_terms
        | ppfx_terms
        | set(pos)
    )
    flag = {t: f"_t{i}" for i, t in enumerate(sorted(terms))}
    wflag = {w: f"_w{i}" for i, w in enumerate(sorted(prefixes))}
    zflag = {z: f"_z{i}" for i, z in enumerate(fuzzies)}
    rflag = {r: f"_r{i}" for i, r in enumerate(ranges)}
    xflag = {x: f"_x{i}" for i, x in enumerate(regexes)}
    vflag = {v: f"_v{i}" for i, v in enumerate(wildcards)}
    fpxflag = {f: f"_fx{i}" for i, f in enumerate(fprefixes)}
    ffzflag = {f: f"_fz{i}" for i, f in enumerate(ffuzzies)}
    frgflag = {f: f"_fr{i}" for i, f in enumerate(franges)}
    fwdflag = {f: f"_fw{i}" for i, f in enumerate(fwilds)}
    ppslot = {pp: f"_px{i}" for i, pp in enumerate(ppfxs)}
    slot = {
        t: f"_s{i}"
        for i, t in enumerate(
            sorted(
                {t for ts in phrase_toks.values() for t in ts}
                | near_terms
                | field_terms
                | fphrase_terms
                | ppfx_terms
            )
        )
    }

    # every atom — exact AND expansion — reduces to concrete vocabulary
    # terms, so the scan filter is ONE equality isin: bucket-prunable
    # (SelectedBucketsCount), no per-posting LIKE/levenshtein (VERDICT
    # r07 #1 — expansions were OR'd predicates over the postings here)
    scan_terms = sorted(
        set(all_terms) | {t for ts in expansion.values() for t in ts}
    )
    pred = F.col("term").isin(scan_terms) if scan_terms else F.lit(False)
    pruned = post.filter(pred)
    # df counted in plan over the pruned scan (term-bucketed: no exchange),
    # n_docs/avgdl as cached literals — building the plan runs no job;
    # `term^N` boosts scale idf through one CASE on term
    tscore = F.lit(0.0)
    if pos:
        n_docs, avgdl, _ = _df_stats_literals(spark, table_prefix, [])
        pruned = pruned.select("*", _df_over_term().alias("df"))
        _idf, ts = _bm25_term_score(
            n_docs, avgdl, BM25_K1, BM25_B, QL.term_boosts(ast)
        )
        tscore = F.when(F.col("term").isin(pos), ts).otherwise(F.lit(0.0))

    aggs = [F.round(F.sum(tscore), 4).alias("score")]
    aggs += [
        F.max(F.when(F.col("term") == t, 1).otherwise(0)).alias(c)
        for t, c in flag.items()
    ]
    aggs += [
        F.max(F.when(exp_isin("prefix", w), 1).otherwise(0)).alias(c)
        for w, c in wflag.items()
    ]
    aggs += [
        F.max(F.when(exp_isin("fuzzy", (zt, zd)), 1).otherwise(0)).alias(c)
        for (zt, zd), c in zflag.items()
    ]
    aggs += [
        F.max(F.when(exp_isin("range", (lo, hi)), 1).otherwise(0)).alias(c)
        for (lo, hi), c in rflag.items()
    ]
    aggs += [
        F.max(F.when(exp_isin("regex", pat), 1).otherwise(0)).alias(c)
        for pat, c in xflag.items()
    ]
    aggs += [
        F.max(F.when(exp_isin("wild", pat), 1).otherwise(0)).alias(c)
        for pat, c in vflag.items()
    ]

    def _fpx_pos_pred(field):
        from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

        return field_pos_pred(field)

    aggs += [
        F.max(
            F.when(
                exp_isin("prefix", w)
                & F.exists(F.col("positions"), _fpx_pos_pred(fld)),
                1,
            ).otherwise(0)
        ).alias(c)
        for (fld, w), c in fpxflag.items()
    ]
    aggs += [
        F.max(
            F.when(
                exp_isin("fuzzy", (zt, zd))
                & F.exists(F.col("positions"), _fpx_pos_pred(fld)),
                1,
            ).otherwise(0)
        ).alias(c)
        for (fld, zt, zd), c in ffzflag.items()
    ]
    aggs += [
        F.max(
            F.when(
                exp_isin("range", (lo, hi))
                & F.exists(F.col("positions"), _fpx_pos_pred(fld)),
                1,
            ).otherwise(0)
        ).alias(c)
        for (fld, lo, hi), c in frgflag.items()
    ]
    aggs += [
        F.max(
            F.when(
                exp_isin("wild", w)
                & F.exists(F.col("positions"), _fpx_pos_pred(fld)),
                1,
            ).otherwise(0)
        ).alias(c)
        for (fld, w), c in fwdflag.items()
    ]
    aggs += [
        F.max(F.when(F.col("term") == t, F.col("positions"))).alias(c)
        for t, c in slot.items()
    ]
    aggs += [
        F.flatten(
            F.collect_list(
                F.when(exp_isin("prefix", ppx), F.col("positions"))
            )
        ).alias(c)
        for (_lead, ppx), c in ppslot.items()
    ]
    per_doc = pruned.groupBy("doc_id").agg(*aggs)

    def phrase_col(p):
        toks = phrase_toks[p]
        slop = p[1]
        slots = [slot[t] for t in toks]
        present = reduce_and([F.col(c).isNotNull() for c in slots])
        if slop:
            from sparkfulltextquery_spark.functions.fulltext import slop_starts_expr

            starts = slop_starts_expr(
                {t: F.col(slot[t]) for t in set(toks)}, toks, slop
            )
        else:
            starts = F.filter(
                F.col(slots[0]),
                lambda x: reduce_and(
                    [
                        F.array_contains(F.col(c), x + F.lit(i))
                        for i, c in enumerate(slots[1:], start=1)
                    ]
                ),
            )
        return present & (F.size(starts) > 0)

    def near_col(a: str, b: str, k: int):
        # same array expression as proximity_match_indexed: any |pa-pb| <= k
        pa, pb = F.col(slot[a]), F.col(slot[b])
        present = pa.isNotNull() & pb.isNotNull()
        pairs = F.filter(
            pa,
            lambda p: F.exists(pb, lambda q: F.abs(q - p) <= F.lit(k)),
        )
        return present & (F.size(pairs) > 0)

    def field_col(field: str, term: str):
        # field membership straight off the gathered position array —
        # title = first BM25F_TITLE_LEN tokens, bm25f_search's carving
        from sparkfulltextquery_spark.functions.fulltext import field_pos_pred

        arr = F.col(slot[term])
        return arr.isNotNull() & F.exists(arr, field_pos_pred(field))

    def as_col(n):
        if isinstance(n, QL.Term):
            return F.col(flag[n.text]) == 1
        if isinstance(n, QL.Prefix):
            return F.col(wflag[n.text]) == 1
        if isinstance(n, QL.Fuzzy):
            return F.col(zflag[(n.text, n.dist)]) == 1
        if isinstance(n, QL.TermRange):
            return F.col(rflag[(n.lo, n.hi)]) == 1
        if isinstance(n, QL.Regex):
            return F.col(xflag[n.pattern]) == 1
        if isinstance(n, QL.Wildcard):
            return F.col(vflag[n.pattern]) == 1
        if isinstance(n, QL.FieldPrefix):
            return F.col(fpxflag[(n.field, n.text)]) == 1
        if isinstance(n, QL.FieldFuzzy):
            return F.col(ffzflag[(n.field, n.text, n.dist)]) == 1
        if isinstance(n, QL.FieldRange):
            return F.col(frgflag[(n.field, n.lo, n.hi)]) == 1
        if isinstance(n, QL.FieldWildcard):
            return F.col(fwdflag[(n.field, n.pattern)]) == 1
        if isinstance(n, QL.Field):
            return field_col(n.field, n.text)
        if isinstance(n, QL.FieldPhrase):
            from sparkfulltextquery_spark.functions.fulltext import (
                BM25F_TITLE_LEN,
                exact_starts_expr,
            )

            toks = fphrase_toks[(n.field, n.text)]
            arr_of = {t: F.col(slot[t]) for t in set(toks)}
            present = reduce_and([arr_of[t].isNotNull() for t in set(toks)])
            k = len(toks)
            in_field = (
                (lambda p: p <= F.lit(BM25F_TITLE_LEN - k))
                if n.field == "title"
                else (lambda p: p >= F.lit(BM25F_TITLE_LEN))
            )
            starts = F.filter(exact_starts_expr(arr_of, toks), in_field)
            return present & (F.size(starts) > 0)
        if isinstance(n, QL.PhrasePrefix):
            from sparkfulltextquery_spark.functions.fulltext import (
                exact_starts_expr,
            )

            toks = ppfx_toks[(n.text, n.prefix)]
            arr_of = {t: F.col(slot[t]) for t in set(toks)}
            present = reduce_and([arr_of[t].isNotNull() for t in set(toks)])
            pp_arr = F.col(ppslot[(n.text, n.prefix)])
            starts = F.filter(
                exact_starts_expr(arr_of, toks),
                lambda p: F.exists(
                    pp_arr, lambda q: q == p + F.lit(len(toks))
                ),
            )
            return present & (F.size(starts) > 0)
        if isinstance(n, QL.Near):
            return near_col(n.a, n.b, n.k)
        if isinstance(n, QL.Phrase):
            return phrase_col((n.text, n.slop))
        if isinstance(n, QL.Not):
            return ~as_col(n.child)
        if isinstance(n, QL.And):
            return reduce_and([as_col(c) for c in n.children])
        out = as_col(n.children[0])
        for c in n.children[1:]:
            out = out | as_col(c)
        return out

    return (
        per_doc.filter(as_col(ast))
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def more_like_this_indexed(
    spark: SparkSession,
    doc_id: int,
    k: int = 10,
    table_prefix: str = "sftq_index",
) -> DataFrame:
    """More-like-this served ENTIRELY off the persisted index: the query
    doc's term vector comes from the doc-bucketed forward table (one
    pruned bucket), its tf-idf weights fold in as literals, candidates
    come from the term-bucketed postings pruned to the query doc's terms,
    and both norms come from the precomputed norms table — no corpus
    tokenization, no full forward scan. Returns top-k (doc_id, cosine),
    identical semantics to the inline TF-IDF-cosine more-like-this.

    Driver traffic is bounded: one doc's term vector (its vocabulary) and
    one norm row — the same 1-row-query-vector discipline as the ANN
    queries."""
    _force_bucketed_scan(spark)
    n_docs, _avgdl, _ = _df_stats_literals(spark, table_prefix, [])
    qrows = (
        spark.table(f"{table_prefix}_tvec")
        .filter(F.col("doc_id") == doc_id)
        .collect()
    )
    if not qrows:
        raise ValueError(f"doc_id {doc_id} not in index {table_prefix!r}")
    terms = sorted(r.term for r in qrows)
    tf_of = {r.term: int(r.tf) for r in qrows}
    _n, _a, df_of = _df_stats_literals(spark, table_prefix, terms)
    qnrm = float(
        spark.table(f"{table_prefix}_norms")
        .filter(F.col("doc_id") == doc_id)
        .head()
        .nrm
    )
    post = (
        spark.table(f"{table_prefix}_postings")
        .filter(F.col("term").isin(terms))
        .filter(F.col("doc_id") != doc_id)
    )
    # idf/query-weight literals fold via JVM F.log (constant-folded by
    # Catalyst) — bit-identical to the inline Spark computation, the same
    # discipline as bm25_scores_indexed
    idf_expr = F.lit(None).cast("double")
    qwt_expr = F.lit(None).cast("double")
    for t in terms:
        idf = F.log(F.lit(float(n_docs + 1)) / (F.lit(df_of[t]) + F.lit(1.0)))
        idf_expr = F.when(F.col("term") == t, idf).otherwise(idf_expr)
        qwt_expr = F.when(F.col("term") == t, F.lit(tf_of[t]) * idf).otherwise(
            qwt_expr
        )
    dots = (
        post.withColumn("_wt", F.col("tf") * idf_expr)
        .groupBy("doc_id")
        .agg(F.sum(F.col("_wt") * qwt_expr).alias("dot"))
    )
    norms = spark.table(f"{table_prefix}_norms")
    return (
        dots.join(norms, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("dot") / (F.lit(qnrm) * F.col("nrm")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(k)
    )



def simple_search_indexed(
    spark: SparkSession,
    query: str,
    k: int = 10,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """The simple query syntax (`+must -must_not should`,
    querylang.parse_simple_query) served off the persisted index as ONE
    pass: the scan prunes to every mentioned term's buckets, a single
    doc_id aggregation computes the required/prohibited flags AND the
    BM25 sum over the required+optional terms (df counted in plan), a
    flag filter gates the match, and the top-k heap bounds the result —
    zero joins, the same plan class as search_indexed's one-pass form."""
    from sparkfulltextquery_spark.functions.querylang import parse_simple_query

    _force_bucketed_scan(spark)
    req, opt, proh = parse_simple_query(query)
    score_terms = sorted(set(req) | set(opt))
    n_docs, avgdl, _ = _df_stats_literals(spark, table_prefix, [])
    all_terms = sorted(set(req) | set(opt) | set(proh))
    post = (
        spark.table(f"{table_prefix}_postings")
        .filter(F.col("term").isin(all_terms))
        .select("*", _df_over_term().alias("df"))
    )
    _idf, ts = _bm25_term_score(n_docs, avgdl, k1, b)
    tscore = F.when(F.col("term").isin(score_terms), ts).otherwise(F.lit(0.0))
    aggs = [F.round(F.sum(tscore), 4).alias("score")]
    aggs += [
        F.max(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"_r{i}")
        for i, t in enumerate(req)
    ]
    aggs += [
        F.max(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"_o{i}")
        for i, t in enumerate(opt)
    ]
    aggs += [
        F.max(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"_x{i}")
        for i, t in enumerate(proh)
    ]
    per_doc = post.groupBy("doc_id").agg(*aggs)
    if req:
        gate = reduce_and([F.col(f"_r{i}") == 1 for i in range(len(req))])
    else:
        ors = [F.col(f"_o{i}") == 1 for i in range(len(opt))]
        gate = ors[0]
        for c in ors[1:]:
            gate = gate | c
    for i in range(len(proh)):
        gate = gate & (F.col(f"_x{i}") == 0)
    return (
        per_doc.filter(gate)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def bm25f_scores_indexed(
    spark: SparkSession,
    query: str,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25F (doc_id, score) over the persisted index — the indexed twin
    of fulltext.bm25f_search (Zaragoza/Robertson simple-BM25F: per-field
    length-normalized tf fused BEFORE the saturating idf product). Same
    one-pass shape as dismax_scores_indexed: per-field tf recovers from
    the stored position arrays, per-field dl derives from the
    denormalized dl column, per-field avgdl folds in via
    _dismax_field_stats and DOC-LEVEL df/n_docs via _df_stats_literals
    (BM25F's idf is document-level — a term's df counts docs where it
    appears in ANY field, exactly the posting-row count). ONE pruned
    scan + one doc_id aggregation, zero joins."""
    from sparkfulltextquery_spark.functions.fulltext import (
        BM25F_TITLE_LEN,
        BM25F_W_BODY,
        BM25F_W_TITLE,
    )

    title_len = BM25F_TITLE_LEN
    _force_bucketed_scan(spark)
    q_terms = sorted(set(_py_tokenize(query)))
    if not q_terms:
        raise ValueError("empty query after tokenization")
    n_docs, _avgdl, df_of = _df_stats_literals(spark, table_prefix, q_terms)
    _n2, avgdl_of, _dff = _dismax_field_stats(spark, table_prefix, [], title_len)

    idf_expr = F.lit(None).cast("double")
    for t in q_terms:
        idf_expr = F.when(
            F.col("term") == t,
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.lit(df_of[t]) + F.lit(0.5))
                / (F.lit(df_of[t]) + F.lit(0.5))
            ),
        ).otherwise(idf_expr)

    def part(weight: float, tf_col, dl_col, field: str):
        # matches the inline `w * tf / (1 - b + b * dl/avgdl)` exactly;
        # a field with tf_f = 0 has no inline row — contribute 0
        return F.when(
            tf_col > 0,
            F.lit(weight)
            * tf_col
            / (F.lit(1 - b) + F.lit(b) * dl_col / F.lit(avgdl_of[field])),
        ).otherwise(F.lit(0.0))

    post = spark.table(f"{table_prefix}_postings").filter(
        F.col("term").isin(q_terms)
    )
    staged = post.select(
        "doc_id",
        "term",
        "tf",
        "dl",
        F.size(F.filter("positions", lambda p: p < F.lit(title_len))).alias("tf_t"),
        F.least(F.col("dl"), F.lit(title_len)).alias("dl_t"),
    )
    tfw = part(
        BM25F_W_TITLE, F.col("tf_t"), F.col("dl_t"), "title"
    ) + part(
        BM25F_W_BODY, F.col("tf") - F.col("tf_t"), F.col("dl") - F.col("dl_t"), "body"
    )
    scored = staged.select(
        "doc_id",
        (idf_expr * tfw / (F.lit(k1) + tfw)).alias("ts"),
    )
    return scored.groupBy("doc_id").agg(F.round(F.sum("ts"), 4).alias("score"))


def bm25f_search_indexed(
    spark: SparkSession,
    query: str,
    k: int = 10,
    table_prefix: str = "sftq_index",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25F top-k over the persisted index (TakeOrderedAndProject heap)."""
    scored = bm25f_scores_indexed(spark, query, table_prefix, k1, b)
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


# r7 file-size split: streaming index maintenance lives in index_stream;
# re-exported here so existing import sites keep working
from sparkfulltextquery_spark.functions.index_stream import (  # noqa: E402,F401
    compact_posting_segments,
    current_generation,
    gc_generations,
    publish_generation,
    read_current_postings,
    read_live_postings,
    read_live_postings_with_deletes,
    stream_delete_docs,
    stream_update_postings,
)
