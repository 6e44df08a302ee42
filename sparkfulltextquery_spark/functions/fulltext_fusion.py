"""Multi-field and multi-signal score-fusion rows (queries + oracles).

The scorers that COMBINE evidence: BM25F (per-field tf fused before
saturation), DisMax (per-field scores fused after — max + tie * rest),
minimum_should_match, and hybrid lexical+semantic RRF. Split out of
fulltext_queries.py in r7 (file-size hygiene; registry unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions import fulltext as FT
from sparkfulltextquery_spark.functions.fulltext_queries import (
    _POSTINGS_CTE,
    _TOK,
    _ensure_index,
)
from sparkfulltextquery_spark.registry import query
from sparkfulltextquery_spark.sources import load_table


@query(
    "fulltext_bm25f_weighted",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    fields AS (
      SELECT doc_id, 'title' AS field, toks[1:10] AS ftoks FROM toks
      UNION ALL
      SELECT doc_id, 'body' AS field, toks[11:] AS ftoks FROM toks
    ),
    dl AS (SELECT doc_id, field, len(ftoks) AS dl FROM fields),
    avgdl AS (SELECT field, avg(dl) AS avgdl FROM dl GROUP BY field),
    fpost AS (SELECT doc_id, field, unnest(ftoks) AS term FROM fields),
    qpost AS (
      SELECT doc_id, field, term, count(*) AS tf FROM fpost
      WHERE term IN ('data', 'query', 'spark', 'window')
      GROUP BY doc_id, field, term
    ),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qpost GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    tfw AS (
      SELECT doc_id, term,
             sum((CASE WHEN field = 'title' THEN 2.0 ELSE 1.0 END) * tf
                 / (1 - 0.75 + 0.75 * dl / avgdl)) AS tfw
      FROM qpost JOIN dl USING (doc_id, field) JOIN avgdl USING (field)
      GROUP BY doc_id, term
    )
    SELECT doc_id,
           round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                     * tfw / (1.2 + tfw)), 4) AS score
    FROM tfw JOIN dfreq USING (term) CROSS JOIN n
    GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def fulltext_bm25f_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F: multi-field search with per-field weights (title boosted 2×) —
    the field-weighted ranking every search engine ships; fields carved
    deterministically (title = first 10 tokens) so the oracle agrees."""
    d = load_table(spark, sf_dir, "documents")
    return FT.bm25f_search(d, "data query spark window", k=10)



# ---------------- hybrid search: BM25 + vector RRF (r6) ----------------

_RRF_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    qt    AS (SELECT unnest(['join', 'spark']) AS term),
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
    ),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lr
      FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    semtop AS (
      SELECT vec_id,
             round(list_inner_product(v, qv) /
                   (sqrt(list_sum(list_transform(v, x -> x * x))) *
                    sqrt(list_sum(list_transform(qv, x -> x * x)))), 6) AS cosine
      FROM e CROSS JOIN q
      ORDER BY cosine DESC, vec_id LIMIT 20
    ),
    sem AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY cosine DESC, vec_id) AS sr
      FROM semtop
    )
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           round(coalesce(1.0::DOUBLE / (60 + lr), 0)
                 + coalesce(1.0::DOUBLE / (60 + sr), 0), 6) AS rrf
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
"""


@query("fulltext_hybrid_rrf", oracle=_RRF_ORACLE)
def fulltext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al. 2009; the
    Elasticsearch/OpenSearch hybrid-search default): fuse the lexical BM25
    top-20 for 'spark join' with the semantic cosine top-20 against the
    vec_id=0 embedding (doc_id aligned with vec_id) as
    rrf = Σ 1/(60 + rank), full-outer over the two bounded rank lists,
    top-10 by fused score.

    Scale shape: each leg ends in a global top-20 heap (per-partition
    heaps merged on the driver — O(k) whatever the corpus size); the
    row_number windows and the full-outer join run over the two 20-row
    lists, so the fusion itself is constant-cost. The unpartitioned
    windows are safe by construction — they see ≤20 rows. Rank literals
    are exact integers; the only floats are the two IEEE divisions, summed
    once and rounded at 6dp."""
    from sparkfulltextquery_spark.functions.fulltext import bm25_scores
    from sparkfulltextquery_spark.similarity import cosine_topk

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    lex = (
        bm25_scores(d, "spark join")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), F.col("doc_id")))
            .alias("lr"),
        )
    )
    sem = (
        cosine_topk(e, [float(x) for x in qvec], k=20)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(W.orderBy(F.col("cosine").desc(), F.col("vec_id")))
            .alias("sr"),
        )
    )
    rrf = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lr")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("sr")), F.lit(0.0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(10)
    )



# ---------------- minimum_should_match (r6) ----------------

_MSM_TERMS = ["batch", "join", "spark", "vector"]

_MSM_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    qt    AS (SELECT unnest(['batch', 'join', 'spark', 'vector']) AS term),
    qpost AS (SELECT t.* FROM tfs t JOIN qt USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM qpost GROUP BY term),
    dl    AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    perdoc AS (
      SELECT doc_id, count(DISTINCT term) AS n_matched,
             round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      FROM qpost JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, n_matched, score
    FROM perdoc WHERE n_matched >= 2
    ORDER BY score DESC, doc_id LIMIT 10
"""


def _min_should_match(ts: DataFrame) -> DataFrame:
    """Top-10 of a per-(doc, term) BM25 relation among the docs matching at
    least 2 of its terms: clause count and score sum in one aggregation."""
    from sparkfulltextquery_spark.functions.fulltext import top_k

    per_doc = ts.groupBy("doc_id").agg(
        F.countDistinct("term").alias("n_matched"),
        F.round(F.sum("tscore"), 4).alias("score"),
    )
    return top_k(per_doc.filter(F.col("n_matched") >= 2), 10)


@query("fulltext_min_should_match", oracle=_MSM_ORACLE)
def fulltext_min_should_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene/Elasticsearch `minimum_should_match`: an OR of should-clauses
    that only matches documents satisfying at least m of them (here m=2 of
    4 terms), ranked by BM25 summed over the MATCHED clauses. One postings
    scan, one doc_id aggregation computing the distinct-clause count and
    the BM25 sum together, a HAVING-style filter, top-k heap — the same
    single-shuffle shape as plain BM25 search."""
    from sparkfulltextquery_spark.functions.fulltext import bm25_term_scores

    d = load_table(spark, sf_dir, "documents")
    ts = bm25_term_scores(d, " ".join(_MSM_TERMS))
    return _min_should_match(ts)


@query("fulltext_min_should_match_indexed", oracle=_MSM_ORACLE)
def fulltext_min_should_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minimum_should_match served off the PERSISTED index: the pruned
    per-(doc, term) score relation (bucket-pruned scan, df/idf as
    constant-folded literals) aggregates clause count and BM25 sum in ONE
    doc_id groupBy — zero joins, corpus-size-independent driver state."""
    from sparkfulltextquery_spark.functions.fulltext import bm25_term_scores_of
    from sparkfulltextquery_spark.functions.index import _index_source

    prefix = _ensure_index(spark, sf_dir)
    ts = bm25_term_scores_of(*_index_source(spark, prefix), " ".join(_MSM_TERMS))
    return _min_should_match(ts)



# ---------------- DisMax multi-field scoring (r6) ----------------


@query(
    "fulltext_dismax",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    fields AS (
      SELECT doc_id, 'title' AS field, toks[1:10] AS ftoks FROM toks
      UNION ALL
      SELECT doc_id, 'body' AS field, toks[11:] AS ftoks FROM toks
    ),
    dl AS (SELECT doc_id, field, len(ftoks) AS dl FROM fields),
    avgdl AS (SELECT field, avg(dl) AS avgdl FROM dl GROUP BY field),
    fpost AS (SELECT doc_id, field, unnest(ftoks) AS term FROM fields),
    qpost AS (
      SELECT doc_id, field, term, count(*) AS tf FROM fpost
      WHERE term IN ('data', 'query', 'spark', 'window')
      GROUP BY doc_id, field, term
    ),
    dfreq AS (
      SELECT field, term, count(DISTINCT doc_id) AS df
      FROM qpost GROUP BY field, term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
      SELECT doc_id, term,
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
      FROM qpost JOIN dl USING (doc_id, field)
      JOIN avgdl USING (field) JOIN dfreq USING (field, term) CROSS JOIN n
    ),
    fused AS (
      SELECT doc_id, term, max(s) + 0.3 * (sum(s) - max(s)) AS dm
      FROM s GROUP BY doc_id, term
    )
    SELECT doc_id, round(sum(dm), 4) AS score
    FROM fused GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def fulltext_dismax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction-max multi-field ranking (Lucene DisjunctionMaxQuery,
    tie_breaker=0.3): each field scores as an independent BM25 sub-index
    (per-field df/dl/avgdl) and per (doc, term) the fused score is the best
    field's score plus tie x the rest — rewarding the best single field
    rather than cross-field accumulation (the complement of
    fulltext_bm25f_weighted, which fuses tf BEFORE saturation). Same
    deterministic title/body carving and query as the BM25F row so the two
    scorers' rankings are directly comparable."""
    d = load_table(spark, sf_dir, "documents")
    return FT.dismax_search(d, "data query spark window", k=10)


from sparkfulltextquery_spark.registry import REGISTRY as _REG  # noqa: E402


@query("fulltext_dismax_indexed", oracle=_REG["fulltext_dismax"].oracle)
def fulltext_dismax_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DisMax served off the PERSISTED index (VERDICT r06 #2 — the last
    scoring surface without an `_indexed` twin): per-field tf recovers from
    the stored position arrays (tf_title = |positions < 10|), per-field dl
    derives arithmetically from the denormalized dl column, and per-field
    df/avgdl fold in as driver literals — ONE bucket-pruned postings scan,
    zero joins (index.dismax_scores_indexed). Same formula, carving, and
    oracle as fulltext_dismax."""
    from sparkfulltextquery_spark.functions.index import dismax_search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return dismax_search_indexed(spark, "data query spark window", k=10, table_prefix=prefix)



@query("fulltext_hybrid_rrf_indexed", oracle=_RRF_ORACLE)
def fulltext_hybrid_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF with the lexical leg served off the PERSISTED index:
    bm25_scores_indexed is bit-identical to the inline scorer (same
    formula, df/avgdl as constant-folded literals), so the fused ranking —
    and the oracle — are unchanged while the corpus tokenization drops out
    of the plan (one bucket-pruned postings scan instead). The semantic
    leg is the same bounded cosine top-20."""
    from sparkfulltextquery_spark.functions.index import bm25_scores_indexed
    from sparkfulltextquery_spark.similarity import cosine_topk

    prefix = _ensure_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    lex = (
        bm25_scores_indexed(spark, "spark join", table_prefix=prefix)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("score").desc(), F.col("doc_id")))
            .alias("lr"),
        )
    )
    sem = cosine_topk(e, [float(x) for x in qvec], k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("cosine").desc(), F.col("vec_id")))
        .alias("sr"),
    )
    rrf = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lr")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("sr")), F.lit(0.0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(10)
    )



@query("fulltext_bm25f_weighted_indexed", oracle=_REG["fulltext_bm25f_weighted"].oracle)
def fulltext_bm25f_weighted_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F served off the PERSISTED index (r7 — the last multi-field
    scorer without an indexed twin): per-field tf from stored position
    arrays, per-field dl arithmetic off the denormalized dl, per-field
    avgdl + doc-level df/n_docs as driver literals — ONE bucket-pruned
    scan, zero joins (index.bm25f_scores_indexed). Same formula, carving,
    and oracle as fulltext_bm25f_weighted."""
    from sparkfulltextquery_spark.functions.index import bm25f_search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return bm25f_search_indexed(spark, "data query spark window", k=10, table_prefix=prefix)
