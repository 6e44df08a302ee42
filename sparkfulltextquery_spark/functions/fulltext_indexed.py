"""Index-served full-text query rows (registered queries + DuckDB oracles).

Every row here is the `_indexed` twin of an inline row: same semantics and
(usually via the registry) the same oracle, answered from the persisted
bucketed positional index — bucket-pruned postings, build-time stats and
forward-index tables — instead of corpus re-tokenization. Split out of
fulltext_queries.py in r7 (file-size hygiene; registry unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions import fulltext as FT
from sparkfulltextquery_spark.functions.fulltext_queries import (
    _BM25_QUERY_TERMS,
    _POSTINGS_CTE,
    _SEARCH_AFTER_ORACLE,
    _TOK,
    _ensure_index,
    _page_after,
)
from sparkfulltextquery_spark.registry import query
from sparkfulltextquery_spark.sources import load_table


@query(
    "fulltext_bm25_search_indexed",
    oracle=f"""
    WITH {_POSTINGS_CTE},
    qt    AS (SELECT unnest(['data', 'query', 'spark', 'window']) AS term),
    qpost AS (SELECT t.* FROM tfs t JOIN qt USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM qpost GROUP BY term),
    dl    AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
    SELECT doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
    FROM qpost JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def fulltext_bm25_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same BM25 top-10 as fulltext_bm25_search, answered from the PERSISTED
    bucketed index: the query terms' postings come from bucket-pruned reads
    (SelectedBucketsCount in the plan — tests/test_index.py), corpus stats
    from the precomputed stats table; the corpus itself is never
    re-tokenized. This is the benched headline path — the inline twin
    remains the from-scratch oracle shape (reference bucketed reads,
    DataFrameWriter.scala:170 + top-k limit.scala:114)."""
    from sparkfulltextquery_spark.functions.index import bm25_search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return bm25_search_indexed(spark, " ".join(_BM25_QUERY_TERMS), k=10, table_prefix=prefix)



@query(
    "fulltext_phrase_search_indexed",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    )
    SELECT a.doc_id, count(*) AS n_occurrences
    FROM      (SELECT doc_id, pos     FROM pos WHERE term = 'batch') a
    JOIN      (SELECT doc_id, pos - 1 AS pos FROM pos WHERE term = 'batch') b
      USING (doc_id, pos)
    GROUP BY a.doc_id
    """,
)
def fulltext_phrase_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase "batch batch" answered from the persisted positional index:
    bucket-pruned postings lookup (SelectedBucketsCount in the plan) →
    explode stored positions → (doc_id, pos-i) equi-join. Same result as
    fulltext_phrase_search but NO corpus re-tokenization — the 100 TB-safe
    phrase plan (VERDICT r1 weak item; reference bucketed reads,
    DataFrameWriter.scala:170)."""
    from sparkfulltextquery_spark.functions.index import phrase_match_indexed

    prefix = _ensure_index(spark, sf_dir)
    return phrase_match_indexed(spark, "batch batch", table_prefix=prefix)



@query(
    "fulltext_query_language_indexed",
    oracle=f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    phrase_docs AS (
      SELECT DISTINCT a.doc_id
      FROM (SELECT doc_id, pos FROM pos WHERE term = 'batch') a
      JOIN (SELECT doc_id, pos - 1 AS pos FROM pos WHERE term = 'batch') b
        USING (doc_id, pos)
    ),
    matched AS (
      SELECT doc_id FROM tfs WHERE term = 'spark'
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
      UNION
      (SELECT doc_id FROM phrase_docs
       EXCEPT
       SELECT doc_id FROM tfs WHERE term = 'vector')
    ),
    qt    AS (SELECT unnest(['batch', 'join', 'spark']) AS term),
    qpost AS (SELECT t.* FROM tfs t JOIN qt USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM qpost GROUP BY term),
    dl    AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT doc_id,
             round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      FROM qpost JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT m.doc_id, coalesce(s.score, 0.0) AS score
    FROM matched m LEFT JOIN scored s ON m.doc_id = s.doc_id
    ORDER BY score DESC, m.doc_id LIMIT 10
    """,
)
def fulltext_query_language_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean query language evaluated entirely off the persisted
    positional index — term atoms are bucket-pruned lookups, the phrase atom
    joins stored positions, BM25 comes from the precomputed df/dl/stats
    tables. Identical semantics (and oracle) to fulltext_query_language."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, '(spark AND join) OR ("batch batch" AND NOT vector)', k=10,
        table_prefix=prefix,
    )



@query(
    "fulltext_proximity_search_indexed",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    a AS (SELECT doc_id, pos FROM pos WHERE term = 'spark'),
    b AS (SELECT doc_id, pos FROM pos WHERE term = 'join'),
    j AS (
      SELECT a.doc_id, abs(a.pos - b.pos) AS d
      FROM a JOIN b USING (doc_id)
      WHERE abs(a.pos - b.pos) <= 5
    )
    SELECT doc_id, count(*) AS n_pairs, min(d) AS min_distance
    FROM j GROUP BY doc_id
    """,
)
def fulltext_proximity_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same NEAR/5 relation as fulltext_proximity_search but answered from
    the persisted positional index: two pruned term buckets, no corpus
    re-tokenization (functions/index.py::proximity_match_indexed)."""
    from sparkfulltextquery_spark.functions.index import proximity_match_indexed

    prefix = _ensure_index(spark, sf_dir)
    return proximity_match_indexed(spark, "spark", "join", window=5, table_prefix=prefix)



@query(
    "fulltext_autocomplete",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT term, count(*) AS df
    FROM tfs WHERE term LIKE 'qu%'
    GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
    """,
)
def fulltext_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typeahead: top-10 vocabulary completions of 'qu', ranked by document
    frequency, from the persisted posting vocabulary (StartsWith range scan
    + bounded top-k heap — no corpus access at query time)."""
    from sparkfulltextquery_spark.functions.index import suggest_terms

    prefix = _ensure_index(spark, sf_dir)
    return suggest_terms(spark, "qu", top=10, table_prefix=prefix)



# ---------------- forward-index-served twins (r6) ----------------

from sparkfulltextquery_spark.registry import REGISTRY as _REG


@query(
    "fulltext_more_like_this_indexed",
    oracle=_REG["fulltext_more_like_this"].oracle,
)
def fulltext_more_like_this_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this served ENTIRELY off the persisted index (r6 forward
    index): the query doc's term vector reads from the doc-bucketed tvec
    table (one pruned bucket), candidates from the term-bucketed postings
    pruned to its terms, and BOTH norms from the build-time norms table —
    the Lucene term-vectors+norms design. Same TF-IDF-cosine semantics
    (and oracle) as fulltext_more_like_this, with no corpus tokenization
    and no full forward scan at query time."""
    from sparkfulltextquery_spark.functions.index import more_like_this_indexed

    prefix = _ensure_index(spark, sf_dir)
    return more_like_this_indexed(spark, 7, k=10, table_prefix=prefix)


@query(
    "fulltext_autocomplete_indexed",
    oracle=_REG["fulltext_autocomplete"].oracle,
)
def fulltext_autocomplete_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typeahead served off the persisted index: a StartsWith band over
    the posting vocabulary + a bounded top-k heap
    (functions/index.py::suggest_terms) — no corpus tokenization. Same
    ranking (and oracle) as fulltext_autocomplete."""
    from sparkfulltextquery_spark.functions.index import suggest_terms

    prefix = _ensure_index(spark, sf_dir)
    return suggest_terms(spark, "qu", top=10, table_prefix=prefix)


@query(
    "fulltext_faceted_search_indexed",
    oracle=_REG["fulltext_faceted_search"].oracle,
)
def fulltext_faceted_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search with the match set resolved from the persisted
    index (two pruned term buckets) instead of an inline tokenization;
    facet values still come from the documents table (the index stores
    postings, not source metadata — same split as any search engine's
    doc-store lookup). Same result (and oracle) as
    fulltext_faceted_search."""
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    d = load_table(spark, sf_dir, "documents")
    matched = (
        spark.table(f"{prefix}_postings")
        .filter(F.col("term").isin(["join", "spark"]))
        .select("doc_id")
        .distinct()
    )
    hits = d.join(matched, "doc_id", "left_semi")
    pairs = hits.select(
        F.explode(
            F.array(
                F.struct(F.lit("source").alias("facet"), F.col("source").alias("value")),
                F.struct(F.lit("lang").alias("facet"), F.col("lang").alias("value")),
            )
        ).alias("fv")
    )
    return (
        pairs.select("fv.facet", "fv.value")
        .groupBy("facet", "value")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "fulltext_spell_suggest_indexed",
    oracle=_REG["fulltext_spell_suggest"].oracle,
)
def fulltext_spell_suggest_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean served off the persisted index: the vocabulary IS the
    precomputed df table — one |vocab|-sized scan, a levenshtein filter,
    and a bounded top-k heap; no postings scan, no corpus tokenization.
    Same ranking (and oracle) as fulltext_spell_suggest."""
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    vocab = spark.table(f"{prefix}_df")
    dist = F.levenshtein("term", F.lit("qery"))
    return (
        vocab.select("term", dist.cast("long").alias("dist"), "df")
        .filter(F.col("dist") <= 2)
        .orderBy("dist", F.col("df").desc(), "term")
        .limit(5)
    )


@query(
    "fulltext_tfidf_top_terms_indexed",
    oracle=_REG["fulltext_tfidf_top_terms"].oracle,
)
def fulltext_tfidf_top_terms_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top TF-IDF terms served off the persisted forward index:
    term vectors from the doc-bucketed tvec table, idf from the broadcast
    df table, n_docs as a literal — no tokenization, no posting groupBy.
    Same result (and oracle) as fulltext_tfidf_top_terms."""
    from pyspark.sql import Window

    from sparkfulltextquery_spark.functions.index import (
        _df_stats_literals,
        _force_bucketed_scan,
    )

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    n_docs, _a, _ = _df_stats_literals(spark, prefix, [])
    tv = spark.table(f"{prefix}_tvec").filter(F.col("doc_id") < 100)
    dfreq = spark.table(f"{prefix}_df")
    scored = tv.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * F.log(F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0))),
            4,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "fulltext_collapse_by_source_indexed",
    oracle=_REG["fulltext_collapse_by_source"].oracle,
)
def fulltext_collapse_by_source_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse-by-source with scoring served off the persisted index
    (bm25_scores_indexed: pruned term buckets, in-plan df, literal
    stats, zero scoring joins), then one doc-store join for the collapse dimension —
    the same split as fulltext_faceted_search_indexed. Same result (and
    oracle) as fulltext_collapse_by_source."""
    from pyspark.sql import Window

    from sparkfulltextquery_spark.functions.index import bm25_scores_indexed

    prefix = _ensure_index(spark, sf_dir)
    scored = bm25_scores_indexed(spark, "data query spark window", table_prefix=prefix)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


@query(
    "fulltext_prefix_search_indexed",
    oracle=_REG["fulltext_prefix_search"].oracle,
)
def fulltext_prefix_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix search off the persisted index, two-step like Lucene
    PrefixQuery (r8, VERDICT r07 #1): the StartsWith band is evaluated
    over the TERM DICTIONARY (the df table, one row per distinct term,
    O(|vocab|)), and the bounded matched-term list folds into an equality
    isin over the postings — a bucket-pruned scan, no per-posting
    StartsWith. Then per-doc distinct-term and tf totals. Same result
    (and oracle) as fulltext_prefix_search."""
    from sparkfulltextquery_spark.functions.index import (
        _force_bucketed_scan,
        resolve_expansions,
    )

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    # explicit generous cap (ADVICE r08): this registered row's inline
    # twin has no expansion cap, so the default MAX_EXPANSIONS=1024 would
    # make only THIS side of the parity pair fail at large vocabularies —
    # a divergence, not a safety win (the resolver's aggregation still
    # bounds driver transfer to the actual match count)
    ts = resolve_expansions(
        spark, prefix, [("prefix", "quer")], max_expansions=1_000_000
    )[("prefix", "quer")]
    post = spark.table(f"{prefix}_postings").filter(
        F.col("term").isin(ts) if ts else F.lit(False)
    )
    return post.groupBy("doc_id").agg(
        F.countDistinct("term").alias("n_terms"),
        F.sum("tf").cast("long").alias("total_tf"),
    )


@query(
    "fulltext_score_explain",
    oracle=f"""
    WITH {_POSTINGS_CTE},
    qt    AS (SELECT unnest(['data', 'query', 'spark', 'window']) AS term),
    qpost AS (SELECT t.* FROM tfs t JOIN qt USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM qpost GROUP BY term),
    dl    AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    ts AS (
      SELECT doc_id, term, tf, df,
             ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf_raw,
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS ts_raw
      FROM qpost JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    top AS (
      SELECT doc_id, round(sum(ts_raw), 4) AS score
      FROM ts GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 3
    )
    SELECT ts.doc_id, score, term, tf, df,
           round(idf_raw, 4) AS idf, round(ts_raw, 4) AS tscore
    FROM ts JOIN top USING (doc_id)
    """,
)
def fulltext_score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style score explain (BM25Similarity.explain): the per-term
    breakdown — tf, df, idf, contribution — for the top-3 BM25 docs of the
    standard query. The 3-row top-k broadcasts back into the term-score
    relation, so explain costs one broadcast join over plain search."""
    d = load_table(spark, sf_dir, "documents")
    return FT.bm25_explain(d, " ".join(_BM25_QUERY_TERMS), k=3)


@query(
    "fulltext_score_explain_indexed",
    oracle=_REG["fulltext_score_explain"].oracle,
)
def fulltext_score_explain_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-3 BM25 explain, served from the persisted index: pruned
    term buckets, df/idf as constant-folded literals, denormalized doc
    lengths — zero joins before the k-row broadcast-back. Shares
    fulltext_score_explain's oracle."""
    from sparkfulltextquery_spark.functions.index import bm25_explain_indexed

    prefix = _ensure_index(spark, sf_dir)
    return bm25_explain_indexed(
        spark, " ".join(_BM25_QUERY_TERMS), k=3, table_prefix=prefix
    )


@query("fulltext_search_after_indexed", oracle=_SEARCH_AFTER_ORACLE)
def fulltext_search_after_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination ("search after", the Lucene/Elasticsearch
    searchAfter cursor): page 2 of the standard BM25 query, fetched as
    WHERE (score, doc_id) < page-1-boundary instead of OFFSET. OFFSET k
    at depth makes every executor heap carry offset+k rows; the keyset
    predicate keeps per-partition heaps at k forever — the only correct
    deep-paging shape at 100 TB. Served off the persisted index; the
    1-row cursor (computed here from page 1's boundary to stay
    self-contained; a real client passes it back) broadcasts into the
    scoring relation."""
    from sparkfulltextquery_spark.functions.index import bm25_scores_indexed

    prefix = _ensure_index(spark, sf_dir)
    scored = bm25_scores_indexed(spark, " ".join(_BM25_QUERY_TERMS), table_prefix=prefix)
    return _page_after(scored)



@query(
    "fulltext_index_stats",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           count(DISTINCT term) AS n_terms,
           count(*) AS n_postings,
           CAST(sum(tf) AS BIGINT) AS total_tokens
    FROM tfs
    """,
)
def fulltext_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index integrity/statistics surface (the Lucene CheckIndex /
    Elasticsearch _stats analogue): doc count, vocabulary size, posting
    count and total token instances — served ENTIRELY off the persisted
    index tables while the oracle re-derives every number from the raw
    corpus, so this query IS the end-to-end build-integrity check: a lost
    posting, a dropped doc, or a miscounted tf in build_index breaks it.

    Plan: two bounded single-row aggregates (postings scan + dl scan)
    crossJoined — no shuffle beyond the partial+final agg pair each."""
    prefix = _ensure_index(spark, sf_dir)
    post_stats = (
        spark.table(f"{prefix}_postings").agg(
            F.countDistinct("term").alias("n_terms"),
            F.count(F.lit(1)).alias("n_postings"),
            F.sum("tf").cast("long").alias("total_tokens"),
        )
    )
    doc_stats = spark.table(f"{prefix}_dl").agg(F.count(F.lit(1)).alias("n_docs"))
    return doc_stats.crossJoin(post_stats).select(
        "n_docs", "n_terms", "n_postings", "total_tokens"
    )

