"""Query-language atom rows (registered queries + DuckDB oracles).

One inline + one indexed row per Lucene-style atom of the boolean query
language — prefix, boost, NEAR/k, field-scoped term/phrase/prefix/fuzzy,
`term~N` fuzzy, `/regex/`, range, sloppy phrase, phrase boost, wildcard,
match positions — each compiled through BOTH the inline compiler
(querylang.search) and the one-pass indexed compiler (index.search_indexed).
Split out of fulltext_queries.py in r7 (file-size hygiene; registry
unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.fulltext_queries import (
    _POSTINGS_CTE,
    _TOK,
    _ensure_index,
)
from sparkfulltextquery_spark.registry import query
from sparkfulltextquery_spark.sources import load_table


@query(
    "fulltext_query_prefix",
    oracle=f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT doc_id FROM tfs WHERE term LIKE 'spar%'
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch', 'join']) AS term),
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
def fulltext_query_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard-prefix atoms in the query language (r5):
    '(spar* AND join) OR batch' — `spar*` matches any term with the
    prefix (Lucene prefix-query semantics; unscored, like Lucene's
    constant-score wildcard rewrite). The oracle phrases the prefix atom
    as a LIKE set over the posting relation."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "(spar* AND join) OR batch", k=10)



@query(
    "fulltext_query_prefix_indexed",
    oracle=f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT doc_id FROM tfs WHERE term LIKE 'spar%'
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch', 'join']) AS term),
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
def fulltext_query_prefix_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same prefix query answered from the PERSISTED index in the
    one-pass form: term atoms stay bucket-pruned; the prefix atom widens
    the scan with a StartsWith filter (hash bucketing is equality-only —
    wildcards can't prune, the standard trade in bucketed inverted
    indexes)."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, "(spar* AND join) OR batch", k=10, table_prefix=prefix
    )



@query(
    "fulltext_query_boost",
    oracle=f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT doc_id FROM tfs WHERE term = 'spark'
      UNION
      SELECT doc_id FROM tfs WHERE term = 'join'
    ),
    qt    AS (SELECT unnest(['join', 'spark']) AS term),
    qpost AS (SELECT t.* FROM tfs t JOIN qt USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM qpost GROUP BY term),
    dl    AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT doc_id,
             round(sum((CASE term WHEN 'spark' THEN 3.0 ELSE 1.0 END)
                       * ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      FROM qpost JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT m.doc_id, coalesce(s.score, 0.0) AS score
    FROM matched m LEFT JOIN scored s ON m.doc_id = s.doc_id
    ORDER BY score DESC, m.doc_id LIMIT 10
    """,
)
def fulltext_query_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term boosts in the query language (r5): 'spark^3 OR join' — the
    boost scales the term's BM25 contribution (Lucene `^N` semantics),
    reordering results toward boosted matches. The oracle carries the
    boost as a CASE multiplier on the per-term score."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "spark^3 OR join", k=10)



_NEAR_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    near_docs AS (
      SELECT DISTINCT a.doc_id
      FROM (SELECT doc_id, pos FROM pos WHERE term = 'spark') a
      JOIN (SELECT doc_id, pos FROM pos WHERE term = 'join') b USING (doc_id)
      WHERE abs(a.pos - b.pos) <= 5
    ),
    matched AS (
      SELECT doc_id FROM near_docs
      EXCEPT
      SELECT doc_id FROM tfs WHERE term = 'vector'
    ),
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
    )
    SELECT m.doc_id, coalesce(s.score, 0.0) AS score
    FROM matched m LEFT JOIN scored s ON m.doc_id = s.doc_id
    ORDER BY score DESC, m.doc_id LIMIT 10
    """


@query("fulltext_query_near", oracle=_NEAR_ORACLE)
def fulltext_query_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR/k operator inside the query language (r5):
    'spark NEAR/5 join AND NOT vector' — proximity as a first-class atom
    composable with the boolean algebra (previously only a standalone
    function). NEAR binds tighter than AND; both operands score in
    BM25."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "spark NEAR/5 join AND NOT vector", k=10)


@query("fulltext_query_near_indexed", oracle=_NEAR_ORACLE)
def fulltext_query_near_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same NEAR query answered from the PERSISTED index one-pass:
    both operands' stored position arrays gather as slots in the single
    doc_id aggregation and the pair-distance test is an array expression
    — no explode, no positional join, bucket-pruned scan."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, "spark NEAR/5 join AND NOT vector", k=10, table_prefix=prefix
    )



# ---------------- fielded + fuzzy atoms (r6) ----------------

_FIELDED_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    matched AS (
      SELECT DISTINCT doc_id FROM pos WHERE term = 'spark' AND pos < 10
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
    ),
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
    )
    SELECT m.doc_id, coalesce(s.score, 0.0) AS score
    FROM matched m LEFT JOIN scored s ON m.doc_id = s.doc_id
    ORDER BY score DESC, m.doc_id LIMIT 10
"""


@query("fulltext_query_fielded", oracle=_FIELDED_ORACLE)
def fulltext_query_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped atom `title:spark AND join` (Lucene fielded-search
    surface; VERDICT r05 #5): the title field is carved positionally from
    the text column exactly as bm25f_search does (first BM25F_TITLE_LEN=10
    tokens), so `title:term` compiles to a position-bounded lookup in the
    positional relation; the term still scores document-level BM25. The
    field-WEIGHTED scoring composition is fulltext_bm25f_weighted."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "title:spark AND join", k=10)


@query("fulltext_query_fielded_indexed", oracle=_FIELDED_ORACLE)
def fulltext_query_fielded_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fielded query answered from the PERSISTED index one-pass:
    the field term's stored position array gathers as a slot in the single
    doc_id aggregation and field membership is an array `exists` over it —
    no posexplode, bucket-pruned scan."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "title:spark AND join", k=10, table_prefix=prefix)


_FUZZY_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT DISTINCT doc_id FROM tfs WHERE levenshtein(term, 'sparc') <= 1
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch']) AS term),
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
"""


_REGEX_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT DISTINCT doc_id FROM tfs WHERE regexp_matches(term, '^(?:qu.r(y|ies))$')
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch']) AS term),
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
"""


@query("fulltext_query_regex", oracle=_REGEX_ORACLE)
def fulltext_query_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp atom `/qu.r(y|ies)/ OR batch` (Lucene RegexpQuery surface,
    ref RegexpExpression family `regexpExpressions.scala`): `/pattern/`
    matches any vocabulary term the pattern matches entirely (implicitly
    anchored, as Lucene regexps are) via an RLIKE predicate over the
    posting vocabulary — the same constant-score multi-term expansion
    discipline as prefix and fuzzy atoms; the plain `batch` branch still
    scores BM25. The pattern subset (literals, ., quantifiers, |, groups,
    char classes — no anchors, no escapes) is portable between Java regex
    and RE2-family engines, so the oracle runs the IDENTICAL pattern."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "/qu.r(y|ies)/ OR batch", k=10)


@query("fulltext_query_regex_indexed", oracle=_REGEX_ORACLE)
def fulltext_query_regex_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same regexp query answered from the PERSISTED index one-pass:
    the anchored RLIKE widens the pruned scan (a regexp can't bucket-prune,
    exactly like prefix/fuzzy atoms) and the regex flag folds into the
    single doc_id aggregation."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "/qu.r(y|ies)/ OR batch", k=10, table_prefix=prefix)


@query("fulltext_query_fuzzy", oracle=_FUZZY_ORACLE)
def fulltext_query_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy atom `sparc~1 OR batch` (Lucene fuzzy-search surface; VERDICT
    r05 #5): `term~N` matches any vocabulary term within edit distance N
    via a levenshtein predicate over the posting vocabulary — the
    fulltext_fuzzy_vocab machinery as a first-class boolean-algebra atom.
    Constant-score like prefix atoms (expanded terms contribute no idf);
    the un-fuzzied `batch` branch still scores BM25."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "sparc~1 OR batch", k=10)


@query("fulltext_query_fuzzy_indexed", oracle=_FUZZY_ORACLE)
def fulltext_query_fuzzy_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fuzzy query answered from the PERSISTED index one-pass:
    the levenshtein predicate widens the pruned scan (edit distance can't
    bucket-prune, exactly like prefix atoms) and the fuzzy flag folds into
    the single doc_id aggregation."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "sparc~1 OR batch", k=10, table_prefix=prefix)



# ---------------- sloppy phrase atoms (r6) ----------------

_SLOP_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    slop_docs AS (
      -- ordered sloppy phrase "spark join"~2: join after spark with at
      -- most 2 extra tokens between (window = pos_join - pos_spark <= 3);
      -- SQL states the exists-assignment semantics directly as a join
      SELECT DISTINCT a.doc_id
      FROM (SELECT doc_id, pos FROM pos WHERE term = 'spark') a
      JOIN (SELECT doc_id, pos FROM pos WHERE term = 'join') b
        USING (doc_id)
      WHERE b.pos > a.pos AND b.pos - a.pos <= 3
    ),
    matched AS (
      SELECT doc_id FROM slop_docs
      EXCEPT
      SELECT doc_id FROM tfs WHERE term = 'vector'
    ),
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
    )
    SELECT m.doc_id, coalesce(s.score, 0.0) AS score
    FROM matched m LEFT JOIN scored s ON m.doc_id = s.doc_id
    ORDER BY score DESC, m.doc_id LIMIT 10
"""


@query("fulltext_query_slop", oracle=_SLOP_ORACLE)
def fulltext_query_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy-phrase atom `"spark join"~2 AND NOT vector` (Lucene phrase
    slop, restricted to in-order matches; VERDICT r05 #5 family): the
    phrase words must appear in order with at most `slop` extra tokens
    interleaved in total — slop=0 degenerates to the exact phrase. The
    inline compiler gathers each term's position array per doc in one
    aggregation and runs the greedy minimal-next-position chain as array
    expressions (exists-semantics; greedy provably minimizes the window
    for a fixed start). Phrase words score document-level BM25."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, '"spark join"~2 AND NOT vector', k=10)


@query("fulltext_query_slop_indexed", oracle=_SLOP_ORACLE)
def fulltext_query_slop_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sloppy-phrase query answered from the PERSISTED index
    one-pass: the stored position arrays gather as slots in the single
    doc_id aggregation and the greedy chain runs over them — bucket-pruned
    scan, no positional joins, no explode."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, '"spark join"~2 AND NOT vector', k=10, table_prefix=prefix
    )



# ---------------- range + field-phrase atoms (r6) ----------------

_RANGE_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT doc_id FROM tfs WHERE term BETWEEN 'spark' AND 'sparl'
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
    ),
    qt    AS (SELECT unnest(['join']) AS term),
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
"""


@query("fulltext_query_range", oracle=_RANGE_ORACLE)
def fulltext_query_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary range atom `[spark TO sparl] AND join` (Lucene range
    query): matches any term lexicographically inside the inclusive
    bounds. Constant-score like prefix atoms (the expanded terms
    contribute no idf; the plain `join` conjunct still scores BM25);
    unprunable by hash bucketing — the scan filters a range band over
    the posting vocabulary."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "[spark TO sparl] AND join", k=10)


@query("fulltext_query_range_indexed", oracle=_RANGE_ORACLE)
def fulltext_query_range_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same range query off the PERSISTED index one-pass: the range
    band widens the pruned scan (like prefix/fuzzy) and its flag folds
    into the single doc_id aggregation."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "[spark TO sparl] AND join", k=10, table_prefix=prefix)


_FIELDPHRASE_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    fp_docs AS (
      -- exact phrase 'spark join' entirely within the 10-token title:
      -- start p has spark, p+1 has join, p+1 <= 9
      SELECT DISTINCT a.doc_id
      FROM (SELECT doc_id, pos FROM pos WHERE term = 'spark') a
      JOIN (SELECT doc_id, pos - 1 AS pos FROM pos WHERE term = 'join') b
        USING (doc_id, pos)
      WHERE a.pos <= 8
    ),
    matched AS (
      SELECT doc_id FROM fp_docs
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
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
"""


@query("fulltext_query_fieldphrase", oracle=_FIELDPHRASE_ORACLE)
def fulltext_query_fieldphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped phrase `title:"spark join" OR batch` (Lucene fielded
    phrase): the exact phrase must occur ENTIRELY inside the positionally
    carved title field (first BM25F_TITLE_LEN tokens) — the
    array_contains start chain bounded by the field window. Phrase words
    score document-level BM25 alongside the OR branch."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, 'title:"spark join" OR batch', k=10)


@query("fulltext_query_fieldphrase_indexed", oracle=_FIELDPHRASE_ORACLE)
def fulltext_query_fieldphrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fielded phrase off the PERSISTED index one-pass: the
    phrase terms' stored position arrays gather as slots and the bounded
    start chain runs as array expressions — bucket-pruned, no explode."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, 'title:"spark join" OR batch', k=10, table_prefix=prefix
    )



# ---------------- phrase boost (r6) ----------------

_PBOOST_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    phrase_docs AS (
      SELECT DISTINCT a.doc_id
      FROM (SELECT doc_id, pos FROM pos WHERE term = 'spark') a
      JOIN (SELECT doc_id, pos FROM pos WHERE term = 'join') b USING (doc_id)
      WHERE b.pos = a.pos + 1
    ),
    matched AS (
      SELECT doc_id FROM phrase_docs
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch', 'join', 'spark']) AS term),
    qpost AS (SELECT t.* FROM tfs t JOIN qt USING (term)),
    dfreq AS (SELECT term, count(*) AS df FROM qpost GROUP BY term),
    dl    AS (SELECT doc_id, len({_TOK}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT doc_id,
             round(sum((CASE WHEN term IN ('join', 'spark') THEN 2.0 ELSE 1.0 END)
                       * ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      FROM qpost JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT m.doc_id, coalesce(s.score, 0.0) AS score
    FROM matched m LEFT JOIN scored s ON m.doc_id = s.doc_id
    ORDER BY score DESC, m.doc_id LIMIT 10
"""


@query("fulltext_query_phrase_boost", oracle=_PBOOST_ORACLE)
def fulltext_query_phrase_boost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase boost `"spark join"^2 OR batch` (Lucene phrase boosting):
    the boost scales the phrase words' BM25 shares exactly like a term
    boost while leaving MATCHING untouched (a boosted phrase matches the
    same docs as the plain phrase). Completes the boost surface: terms
    (r5), phrases (r6)."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, '"spark join"^2 OR batch', k=10)


@query("fulltext_query_phrase_boost_indexed", oracle=_PBOOST_ORACLE)
def fulltext_query_phrase_boost_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same boosted phrase off the PERSISTED index one-pass: the boost
    scales idf through a per-term CASE, the phrase match runs as
    stored-position array expressions."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, '"spark join"^2 OR batch', k=10, table_prefix=prefix)



# ---------------- field-scoped prefix (r6) ----------------

_FIELDPREFIX_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    matched AS (
      SELECT DISTINCT doc_id FROM pos
      WHERE pos < 10 AND starts_with(term, 'spar')
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch']) AS term),
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
"""


@query("fulltext_query_fieldprefix", oracle=_FIELDPREFIX_ORACLE)
def fulltext_query_fieldprefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped wildcard prefix `title:spar* OR batch` (Lucene fielded
    PrefixQuery): the composition of Prefix (StartsWith over the
    vocabulary, constant-score) and Field (positional title carving) as
    one atom. The prefix branch contributes no idf — standard multi-term
    rewrite — while the OR'd plain term still scores BM25."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "title:spar* OR batch", k=10)


@query("fulltext_query_fieldprefix_indexed", oracle=_FIELDPREFIX_ORACLE)
def fulltext_query_fieldprefix_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fielded prefix off the PERSISTED index one-pass: the
    StartsWith widens the pruned scan (prefixes can't bucket-prune) and
    the flag combines the vocabulary test with an EXISTS over the stored
    position arrays — no positional explode, no join."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "title:spar* OR batch", k=10, table_prefix=prefix)



# ---------------- field-scoped fuzzy (r6) ----------------

_FIELDFUZZY_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    matched AS (
      SELECT DISTINCT doc_id FROM pos
      WHERE pos < 10 AND levenshtein(term, 'sparc') <= 1
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch']) AS term),
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
"""


@query("fulltext_query_fieldfuzzy", oracle=_FIELDFUZZY_ORACLE)
def fulltext_query_fieldfuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped fuzzy `title:sparc~1 OR batch` (Lucene fielded
    FuzzyQuery): the composition of Fuzzy (levenshtein over the
    vocabulary, constant-score) and Field (positional title carving) —
    completing the field-scoped atom family: term, phrase, prefix, fuzzy."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "title:sparc~1 OR batch", k=10)


@query("fulltext_query_fieldfuzzy_indexed", oracle=_FIELDFUZZY_ORACLE)
def fulltext_query_fieldfuzzy_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fielded fuzzy off the PERSISTED index one-pass: the
    levenshtein widens the pruned scan and the flag combines it with an
    EXISTS over the stored position arrays — no explode, no join."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "title:sparc~1 OR batch", k=10, table_prefix=prefix)



# ---------------- match positions / highlighting offsets (r6) ----------------

_MATCHPOS_ORACLE = f"""
    WITH pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    hits AS (
      SELECT doc_id, term, list(pos ORDER BY pos) AS positions
      FROM pos WHERE term IN ('join', 'spark')
      GROUP BY doc_id, term
    ),
    both_docs AS (
      SELECT doc_id FROM hits GROUP BY doc_id HAVING count(*) = 2
    )
    SELECT h.doc_id, h.term, h.positions
    FROM hits h JOIN both_docs USING (doc_id)
    ORDER BY h.doc_id, h.term
"""


def _match_positions(post: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, term, positions) of the docs holding ALL ``terms``, off any
    positional posting relation: the term-pruned rows carry each term's
    sorted position array, and the all-terms constraint is one count
    aggregation over them."""
    post = post.filter(F.col("term").isin(terms)).select("doc_id", "term", "positions")
    both = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt")).filter(
        F.col("nt") == len(terms)
    )
    return (
        post.join(both.select("doc_id"), "doc_id")
        .select("doc_id", "term", "positions")
        .orderBy("doc_id", "term")
    )


@query("fulltext_match_positions", oracle=_MATCHPOS_ORACLE)
def fulltext_match_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-term position retrieval (the Lucene TermPositions /
    PostingsEnum surface highlighters are built on): for docs containing
    ALL query terms, the sorted token offsets of each term — exactly what
    a highlighter needs to place <em> marks without re-analyzing the
    document text. Inline form: _match_positions over the corpus'
    positional postings."""
    from sparkfulltextquery_spark.functions.fulltext import positional_postings

    d = load_table(spark, sf_dir, "documents")
    return _match_positions(positional_postings(d), ["join", "spark"])


@query("fulltext_match_positions_indexed", oracle=_MATCHPOS_ORACLE)
def fulltext_match_positions_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same position retrieval off the PERSISTED index: the stored
    sorted position arrays come straight out of the bucket-pruned postings
    scan — zero tokenization, zero explode. This is why the index stores
    positions: phrase matching, proximity, AND highlighting all read them
    without touching the corpus."""
    from sparkfulltextquery_spark.functions.index import _postings

    prefix = _ensure_index(spark, sf_dir)
    return _match_positions(_postings(spark, prefix), ["join", "spark"])


# ---------------- general wildcard atoms (r7) ----------------

_WILDCARD_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT doc_id FROM tfs WHERE term LIKE 'sp_rk'
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
      UNION
      SELECT doc_id FROM tfs WHERE term LIKE '%indow'
      UNION
      SELECT doc_id FROM tfs WHERE term LIKE 'qu%ry'
    ),
    qt    AS (SELECT unnest(['join']) AS term),
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
    """


@query("fulltext_query_wildcard", oracle=_WILDCARD_ORACLE)
def fulltext_query_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General wildcard atoms in the query language (r7, VERDICT r06 #3 —
    Lucene WildcardQuery): '(sp?rk AND join) OR *indow OR qu*ry' exercises
    all three non-prefix forms — `?` single-char, leading `*` (suffix
    match), interior `*` (infix). Each compiles to a LIKE predicate over
    the posting vocabulary (`*`→`%`, `?`→`_`); wildcards are
    constant-score like prefix atoms, so only 'join' contributes BM25 and
    wildcard-only matches rank by doc_id at score 0."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "(sp?rk AND join) OR *indow OR qu*ry", k=10)


@query("fulltext_query_wildcard_indexed", oracle=_WILDCARD_ORACLE)
def fulltext_query_wildcard_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same wildcard query answered from the PERSISTED index one-pass:
    wildcard atoms widen the pruned scan with LIKE vocabulary predicates
    (hash bucketing is equality-only — like prefix/fuzzy/regex atoms they
    can't prune; a sorted term dictionary could band leading-literal
    patterns at deploy scale), flags fold into the single doc_id
    aggregation — no join anywhere in the plan."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, "(sp?rk AND join) OR *indow OR qu*ry", k=10, table_prefix=prefix
    )


# ---------------- field-scoped range + wildcard atoms (r7) ----------------

_FIELDRANGE_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    matched AS (
      SELECT DISTINCT doc_id FROM pos WHERE term BETWEEN 'q' AND 'quick' AND pos < 10
      UNION
      SELECT doc_id FROM tfs WHERE term = 'batch'
    ),
    qt    AS (SELECT unnest(['batch']) AS term),
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
"""


@query("fulltext_query_fieldrange", oracle=_FIELDRANGE_ORACLE)
def fulltext_query_fieldrange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped vocabulary range `title:[q TO quick] OR batch` (r7 —
    ADVICE r06 flagged the silent misparse of this exact shape; it is now
    a first-class atom): any term lexicographically in [q, quick]
    occurring inside the positionally-carved title field. Constant-score
    like the plain range atom, so only 'batch' contributes BM25."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "title:[q TO quick] OR batch", k=10)


@query("fulltext_query_fieldrange_indexed", oracle=_FIELDRANGE_ORACLE)
def fulltext_query_fieldrange_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same field-range query off the PERSISTED index one-pass: the
    lexicographic band widens the pruned scan, field membership folds into
    the flag aggregation as an EXISTS over the stored position arrays —
    no join anywhere (same mechanism as field-prefix/field-fuzzy)."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "title:[q TO quick] OR batch", k=10, table_prefix=prefix)


_FIELDWILD_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    matched AS (
      SELECT DISTINCT doc_id FROM pos WHERE term LIKE 'sp_rk' AND pos < 10
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
      UNION
      SELECT DISTINCT doc_id FROM pos WHERE term LIKE '%indow' AND pos >= 10
    ),
    qt    AS (SELECT unnest(['join']) AS term),
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
"""


@query("fulltext_query_fieldwildcard", oracle=_FIELDWILD_ORACLE)
def fulltext_query_fieldwildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-scoped general wildcard `(title:sp?rk AND join) OR
    body:*indow` (r7): the LIKE vocabulary predicate composed with the
    positional field carving — `?` single-char in title, leading `*` in
    body. Constant-score; only 'join' contributes BM25."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, "(title:sp?rk AND join) OR body:*indow", k=10)


@query("fulltext_query_fieldwildcard_indexed", oracle=_FIELDWILD_ORACLE)
def fulltext_query_fieldwildcard_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same field-wildcard query off the PERSISTED index one-pass:
    LIKE widens the pruned scan, field membership is an EXISTS over stored
    position arrays inside the flag aggregation — no join anywhere."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(
        spark, "(title:sp?rk AND join) OR body:*indow", k=10, table_prefix=prefix
    )


# ---------------- phrase-prefix atom (r7) ----------------

_PPFX_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    pp AS (
      SELECT DISTINCT a.doc_id
      FROM (SELECT doc_id, pos FROM pos WHERE term = 'batch') a
      JOIN (SELECT doc_id, pos FROM pos WHERE term LIKE 'bat%') b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    matched AS (
      SELECT doc_id FROM pp
      UNION
      SELECT doc_id FROM tfs WHERE term = 'vector'
    ),
    qt    AS (SELECT unnest(['batch', 'vector']) AS term),
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
"""


@query("fulltext_query_phrase_prefix", oracle=_PPFX_ORACLE)
def fulltext_query_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-prefix atom '"batch bat*" OR vector' (r7 — the Elasticsearch
    match_phrase_prefix / Lucene MatchPhrasePrefixQuery surface): 'batch'
    immediately followed by any term with prefix 'bat'. The lead word
    scores BM25 like a phrase word; the prefix expansion is constant-score.
    Inline plan: ONE positional groupBy gathering the lead word's position
    array plus the union of prefix-matching positions, then the
    array_contains start chain ending in an EXISTS — no theta join."""
    from sparkfulltextquery_spark.functions.querylang import search

    d = load_table(spark, sf_dir, "documents")
    return search(d, '"batch bat*" OR vector', k=10)


@query("fulltext_query_phrase_prefix_indexed", oracle=_PPFX_ORACLE)
def fulltext_query_phrase_prefix_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same phrase-prefix query off the PERSISTED index one-pass: the
    final prefix widens the pruned scan (StartsWith over the vocabulary),
    the lead word's stored position array gathers as a slot and the
    prefix-matching arrays flatten into a second slot inside the SINGLE
    doc_id aggregation — adjacency is an array expression, no join."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, '"batch bat*" OR vector', k=10, table_prefix=prefix)


# ---------------- simple query syntax (r7) ----------------

_SIMPLE_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    matched AS (
      SELECT doc_id FROM tfs WHERE term = 'spark'
      INTERSECT
      SELECT doc_id FROM tfs WHERE term = 'join'
      EXCEPT
      SELECT doc_id FROM tfs WHERE term = 'vector'
    ),
    qt    AS (SELECT unnest(['batch', 'join', 'spark', 'window']) AS term),
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
"""


@query("fulltext_simple_query", oracle=_SIMPLE_ORACLE)
def fulltext_simple_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene/Elasticsearch simple_query_string surface (r7):
    '+spark +join -vector batch window' — docs must contain BOTH `+`
    terms and no `-` term; the bare SHOULD terms gate nothing here (a
    MUST clause exists) but still contribute BM25, so two docs matching
    spark+join rank differently by their batch/window content. This
    MUST/SHOULD scoring split is the surface the full boolean grammar
    can't express (its scoring set is exactly its positive atoms)."""
    from sparkfulltextquery_spark.functions.querylang import simple_search

    d = load_table(spark, sf_dir, "documents")
    return simple_search(d, "+spark +join -vector batch window", k=10)


@query("fulltext_simple_query_indexed", oracle=_SIMPLE_ORACLE)
def fulltext_simple_query_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same simple query served off the PERSISTED index as ONE pass:
    pruned scan over all mentioned terms' buckets, a single doc_id
    aggregation computing MUST/MUST_NOT flags AND the BM25 sum over
    MUST+SHOULD terms (df/avgdl as driver literals), flag-filter, top-k
    heap — zero joins."""
    from sparkfulltextquery_spark.functions.index import simple_search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return simple_search_indexed(
        spark, "+spark +join -vector batch window", k=10, table_prefix=prefix
    )


from sparkfulltextquery_spark.registry import REGISTRY as _REG2  # noqa: E402


@query("fulltext_query_boost_indexed", oracle=_REG2["fulltext_query_boost"].oracle)
def fulltext_query_boost_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term boosts off the PERSISTED index one-pass (r7 symmetry): the
    `spark^3` multiplier folds into the constant-folded idf literal chain
    inside the single pruned-scan aggregation. Same oracle as
    fulltext_query_boost."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    prefix = _ensure_index(spark, sf_dir)
    return search_indexed(spark, "spark^3 OR join", k=10, table_prefix=prefix)
