"""Full-text search core: posting relations, TF-IDF, BM25, phrase search.

This is the capability the reference fork exists for ("full-text query
within the Spark framework") rebuilt Spark-first (SURVEY.md §7 steps 3-4):

- the inverted index IS a DataFrame: ``postings(term, doc_id, tf)`` built by
  explode + groupBy — shuffle-parallel, no driver state; the positional
  form ``(doc_id, term, tf, positions, dl)`` carries each doc's length, so
  nothing joins dl back in;
- every scorer and matcher is written ONCE, over any positional posting
  relation and a ``stats`` argument: BM25 term scores (bm25_term_rows),
  BM25F (bm25f_scores), DisMax (dismax_scores), phrase (phrase_counts)
  and NEAR (proximity_pairs). The inline functions (``bm25_search``,
  ``bm25f_search``, ``phrase_match``, ...) pass a raw corpus' positional
  postings and its one-row corpus_stats relation (inline_source); the
  persisted index (functions.index) passes its term-bucketed postings
  table and its cached stats literals. with_stats attaches either form —
  a relation is the plan's one broadcast cross join, literals fold in;
- search = prune postings to the query terms → score (df counted in plan,
  df_over_term) → global top-k, planned by Spark as TakeOrderedAndProject
  (per-partition heaps — reference limit.scala:114).

The BM25 term weight is ONE expression, ``bm25_term_score``, shared by
every BM25, BM25F and DisMax score, query-language and simple-syntax
search and the percolator. At 100 TB the posting table is persisted
bucketed by term (functions.index.build_index) so per-query term lookups
are pruned scans with zero shuffle. Nothing here ever collects unbounded
data to the driver.

Reference anchors: tokenization seed `Sentences` stringExpressions.scala:1393;
TF via explode+groupBy mirrors ml.feature.HashingTF/CountVectorizer
(HashingTF.scala:40, CountVectorizer.scala:122); IDF formula parity with
ml.feature.IDF (IDF.scala:67: log((N+1)/(df+1))); BM25 uses the standard
Robertson/Lucene formulation.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from sparkfulltextquery_spark.functions.text import tokenize

BM25_K1 = 1.2
BM25_B = 0.75
BM25F_TITLE_LEN = 10
BM25F_W_TITLE = 2.0
BM25F_W_BODY = 1.0


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted index as a DataFrame: (term, doc_id, tf).

    One shuffle (groupBy doc_id+term); map-side partial counts keep the
    shuffle volume at O(distinct terms per doc), not O(tokens).
    """
    return (
        docs.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def positional_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """Positional inverted index, each doc's length denormalized onto its
    rows: (doc_id, term, tf, positions sorted array, dl) — the persisted
    index's posting-table layout.

    ``text_col`` is raw text, tokenized here once, or an already-tokenized
    array column. dl rides along as a group key, so there is one shuffle
    and no join; with ``num_partitions`` the tokens are hash-partitioned by
    term that many ways first, which the grouping reuses — the only
    exchange a term-bucketed write then needs. Shuffle volume is
    O(tokens/doc), the trade that lets pruned buckets answer phrases.
    """
    toks = F.col(text_col)
    if not isinstance(docs.schema[text_col].dataType, ArrayType):
        toks = tokenize(toks)
    rows = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .withColumn("dl", F.size("_toks"))
        .select("doc_id", "dl", F.posexplode("_toks").alias("pos", "term"))
    )
    if num_partitions:
        rows = rows.repartition(num_partitions, "term")
    return rows.groupBy("term", "doc_id", "dl").agg(
        F.count(F.lit(1)).alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    ).select("doc_id", "term", "tf", "positions", "dl")


HASHING_TF_FEATURES = 1 << 18  # reference HashingTF.scala:40 default 2^18


def hashing_tf(
    docs: DataFrame,
    num_features: int = HASHING_TF_FEATURES,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick term frequencies (reference HashingTF.scala:40): terms
    map to a fixed-width feature space via hash mod num_features — no vocab
    pass, collisions accepted. Sparse form (doc_id, bucket, tf): at scale
    the dense 2^18-wide vector is never materialized; downstream dot
    products join on (bucket). Hash is the engine's portable md5-based h28
    (functions.hashes) instead of murmur3 so results are engine-reproducible
    (DuckDB oracle twin: h28_duck)."""
    from sparkfulltextquery_spark.functions.hashes import h28

    return (
        docs.select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks"))
        .select("doc_id", F.explode("toks").alias("term"))
        .select("doc_id", F.pmod(h28(F.col("term")), F.lit(num_features)).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_len(toks) -> Column:
    """A doc's length over its token array: a NULL text is a token-empty
    doc (dl 0), so n_docs and avgdl count the same docs."""
    return F.coalesce(F.size(toks), F.lit(0))


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, dl) token counts of every doc (0 for a NULL text) — a
    projection, no shuffle; its row count and mean dl are the corpus stats.
    Postings carry dl themselves, so nothing joins this back."""
    return docs.select(
        F.col(id_col).alias("doc_id"), doc_len(tokenize(F.col(text_col))).alias("dl")
    )


def doc_freq(post: DataFrame) -> DataFrame:
    """(term, df) document frequency from the posting table."""
    return post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def tf_idf(post: DataFrame, n_docs: int) -> DataFrame:
    """(term, doc_id, tf, tfidf) with the reference IDF formula
    log((N+1)/(df+1)) (ml.feature.IDF, IDF.scala:67)."""
    dfreq = doc_freq(post)
    return post.join(dfreq, "term").select(
        "term",
        "doc_id",
        "tf",
        (
            F.col("tf")
            * F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0)))
        ).alias("tfidf"),
    )


def df_over_term() -> Column:
    """Per-term document frequency of a postings relation, in plan: each
    (term, doc_id) pair is one posting row, so df is the row count of the
    term's partition. Over a term-bucketed scan the window needs only a
    within-task sort — no exchange."""
    return F.expr("count(1) OVER (PARTITION BY term)")


def bm25_term_score(
    n_docs,
    avgdl,
    df="df",
    tf: str = "tf",
    dl: str = "dl",
    k1: float = BM25_K1,
    b: float = BM25_B,
    boosts: dict[str, float] | None = None,
) -> tuple[Column, Column]:
    """(idf, tscore): the engine's one BM25 term weight and its saturated,
    length-normalized contribution over a posting row,

        idf(t)    = ln(1 + (N - df + 0.5)/(df + 0.5))          [Lucene form]
        tscore    = boost(t) · idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))

    ``n_docs``, ``avgdl`` and ``df`` are each a column name (the stats
    columns of a joined one-row relation, an in-plan df) or a number
    folded in as a literal (the index's cached stats, the percolator's
    pinned df); ``tf`` and ``dl`` name columns. `term^N` boosts scale idf
    through one CASE on term (query terms are tokenizer output,
    [a-z0-9]+). Each Column is parsed from one SQL string: a Column built
    op by op costs a driver round trip per op."""

    def sql(v) -> str:
        if isinstance(v, str):
            return v
        return f"{v!r}D" if isinstance(v, float) else str(int(v))

    n, d = sql(n_docs), sql(df)
    idf = f"ln(1.0D + ({n} - {d} + 0.5D) / ({d} + 0.5D))"
    boosted = sorted((t, float(w)) for t, w in (boosts or {}).items() if w != 1.0)
    if boosted:
        whens = " ".join(f"WHEN '{t}' THEN {w!r}D" for t, w in boosted)
        idf = f"CASE term {whens} ELSE 1.0D END * {idf}"
    k1, b = float(k1), float(b)
    tscore = (
        f"{idf} * ({tf} * {k1 + 1!r}D)"
        f" / ({tf} + {k1!r}D * ({1 - b!r}D + {b!r}D * {dl} / {sql(avgdl)}))"
    )
    return F.expr(idf), F.expr(tscore)


def corpus_stats(dls: DataFrame, title_len: int = BM25F_TITLE_LEN) -> DataFrame:
    """The one-row BM25 stats (n_docs, avgdl, avgdl_title, avgdl_body) of a
    relation with one ``dl`` row per doc (doc_lengths, the index's dl
    table): every doc counts, a NULL-text one too (dl 0). Fields are the
    positional carving (title = the first ``title_len`` tokens). Means of
    integer lengths are exact: the same lengths give the same doubles."""
    dl_t = F.least(F.col("dl"), F.lit(title_len))
    return dls.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.avg(dl_t).alias("avgdl_title"),
        F.avg(F.col("dl") - dl_t).alias("avgdl_body"),
    )


def inline_source(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    title_len: int = BM25F_TITLE_LEN,
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) of a raw corpus for the scorers and matchers
    below: its positional postings and its one-row corpus_stats."""
    return (
        positional_postings(docs, id_col, text_col),
        corpus_stats(doc_lengths(docs, id_col, text_col), title_len),
    )


def with_stats(rel: DataFrame, stats) -> tuple[DataFrame, tuple]:
    """(rel, stats values) for scoring expressions. ``stats`` is a tuple of
    literals in corpus_stats' column order (the persisted index's cached
    stats), passed through, or a one-row relation (corpus_stats), which is
    broadcast cross-joined onto ``rel`` — the plan's one join — and named
    by its columns."""
    if isinstance(stats, DataFrame):
        return rel.crossJoin(F.broadcast(stats)), tuple(stats.columns)
    return rel, tuple(stats)


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best (doc_id, score) rows, (score desc, doc_id) deterministic
    order — planned as a TakeOrderedAndProject heap."""
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def _query_terms(query: str) -> list[str]:
    terms = sorted(set(_py_tokenize(query)))
    if not terms:
        raise ValueError("empty query after tokenization")
    return terms


def bm25_term_rows(
    post: DataFrame,
    stats,
    query: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
    boosts: dict[str, float] | None = None,
) -> tuple[DataFrame, Column, Column]:
    """(rows, idf, tscore): the one BM25 term-score body. ``rows`` are the
    rows of ``post`` (any posting relation carrying dl) pruned to the query
    terms, with df counted in plan (df_over_term) and ``stats`` attached
    (with_stats); ``idf`` and ``tscore`` are bm25_term_score over them,
    left unprojected so a score sum aggregates the expression itself."""
    rows = post.filter(F.col("term").isin(_query_terms(query))).select(
        "doc_id", "term", "tf", "dl", df_over_term().alias("df")
    )
    rows, (n_docs, avgdl, *_) = with_stats(rows, stats)
    idf, tscore = bm25_term_score(n_docs, avgdl, k1=k1, b=b, boosts=boosts)
    return rows, idf, tscore


def bm25_scores_of(
    post: DataFrame, stats, query: str, k1: float = BM25_K1, b: float = BM25_B,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, score): bm25_term_rows summed per doc, rounded at 4dp."""
    rows, _idf, tscore = bm25_term_rows(post, stats, query, k1, b, boosts)
    return rows.groupBy("doc_id").agg(F.round(F.sum(tscore), 4).alias("score"))


def bm25_term_scores_of(
    post: DataFrame, stats, query: str, k1: float = BM25_K1, b: float = BM25_B
) -> DataFrame:
    """(doc_id, term, tf, df, dl, idf, tscore): bm25_term_rows projected —
    the substance of a Lucene-style Explanation
    (o.a.lucene.search.similarities BM25Similarity.explain)."""
    rows, idf, tscore = bm25_term_rows(post, stats, query, k1, b)
    return rows.select("doc_id", "term", "tf", "df", "dl", idf.alias("idf"), tscore.alias("tscore"))


def bm25_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(doc_id, score) BM25 scores for every doc matching ≥1 query term —
    the un-truncated scoring relation over the corpus' inline_source."""
    return bm25_scores_of(*inline_source(docs, id_col, text_col), query, k1, b)


def bm25_term_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-(doc_id, term) BM25 contribution relation (doc_id, term, tf, df,
    dl, idf, tscore) over the corpus' inline_source; its only join is the
    one-row stats relation's."""
    return bm25_term_scores_of(*inline_source(docs, id_col, text_col), query, k1, b)


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 search: bm25_scores + TakeOrderedAndProject top-k, with
    the 4dp-rounded score and (score desc, doc_id) deterministic order."""
    return top_k(bm25_scores(docs, query, id_col, text_col, k1, b), k)


def field_pos_pred(field: str):
    """Element predicate for the positional title/body carving (title =
    first BM25F_TITLE_LEN tokens): the ONE definition of field membership
    over a position value, used by the query-language compiler
    (querylang.compile_queries) with F.exists over stored position arrays.
    Changing the carving here changes it everywhere at once."""
    if field == "title":
        return lambda p: p < F.lit(BM25F_TITLE_LEN)
    return lambda p: p >= F.lit(BM25F_TITLE_LEN)


def bm25_explain(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Lucene-style explain: the per-term score breakdown for the top-k
    docs — one row per (doc_id, term) with tf, df, idf and the term's
    contribution, plus the doc's total. The top-k relation (k rows)
    broadcasts back into the term-score relation, so the breakdown costs
    one extra broadcast join over plain bm25_search."""
    return explain_from_term_scores(bm25_term_scores(docs, query, id_col, text_col, k1, b), k)


def explain_from_term_scores(ts: DataFrame, k: int) -> DataFrame:
    """Shared tail of both explain paths (inline and indexed): total the
    per-(doc, term) contributions, take the deterministic top-k, broadcast
    the k-row relation back in, and emit the 4dp-rounded breakdown."""
    top = top_k(ts.groupBy("doc_id").agg(F.round(F.sum("tscore"), 4).alias("score")), k)
    return ts.join(F.broadcast(top), "doc_id").select(
        "doc_id", "score", "term", "tf", "df",
        F.round("idf", 4).alias("idf"), F.round("tscore", 4).alias("tscore"),
    )


def field_postings(
    post: DataFrame, terms: list[str], title_len: int = BM25F_TITLE_LEN
) -> DataFrame:
    """The posting rows of ``terms`` with the per-field tf and dl of the
    positional title/body carving: tf_t = |positions < title_len| off the
    position array, tf_b = tf − tf_t, dl_t = least(dl, title_len) and
    dl_b = dl − dl_t — per-field statistics of any positional posting
    relation, with no re-tokenization."""
    return (
        post.filter(F.col("term").isin(terms))
        .select(
            "doc_id", "term", "tf", "dl",
            F.size(F.filter("positions", lambda p: p < F.lit(title_len))).alias("tf_t"),
            F.least(F.col("dl"), F.lit(title_len)).alias("dl_t"),
        )
        .select(
            "*",
            (F.col("tf") - F.col("tf_t")).alias("tf_b"),
            (F.col("dl") - F.col("dl_t")).alias("dl_b"),
        )
    )


def bm25f_scores(
    post: DataFrame,
    stats,
    query: str,
    title_len: int = BM25F_TITLE_LEN,
    w_title: float = BM25F_W_TITLE,
    w_body: float = BM25F_W_BODY,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25F (doc_id, score) — the one body of the field-weighted scorer
    (Zaragoza/Robertson simple-BM25F): per-field tf is length-normalized
    with that field's own avgdl, weighted, and folded into one saturating
    term frequency before the idf product — NOT a per-field score sum
    (which over-counts saturation):

        tfw(d,t)  = Σ_f  w_f · tf_f / (1 − b + b · dl_f/avgdl_f)
        score(d)  = Σ_t  idf(t) · tfw / (k1 + tfw)

    Per-field tf and dl come from field_postings; the idf is
    bm25_term_score's at document level (df counts the docs holding the
    term in ANY field: its posting rows). One pruned scan and one doc_id
    aggregation; the only join is a stats relation's (with_stats)."""
    rows = field_postings(post, _query_terms(query), title_len).select(
        "*", df_over_term().alias("df")
    )
    rows, (n_docs, avgdl, avgdl_t, avgdl_b) = with_stats(rows, stats)
    idf, _ts = bm25_term_score(n_docs, avgdl, k1=k1, b=b)

    def part(weight: float, f: str, avgdl_f) -> Column:
        # a field without the term (tf_f = 0) contributes nothing
        tf_f, dl_f = F.col(f"tf_{f}"), F.col(f"dl_{f}")
        avgdl_f = F.col(avgdl_f) if isinstance(avgdl_f, str) else F.lit(avgdl_f)
        return F.when(
            tf_f > 0, F.lit(weight) * tf_f / (F.lit(1 - b) + F.lit(b) * dl_f / avgdl_f)
        ).otherwise(F.lit(0.0))

    tfw = part(w_title, "t", avgdl_t) + part(w_body, "b", avgdl_b)
    return (
        rows.select("doc_id", (idf * tfw / (F.lit(k1) + tfw)).alias("ts"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("ts"), 4).alias("score"))
    )


def bm25f_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    title_len: int = BM25F_TITLE_LEN,
    w_title: float = BM25F_W_TITLE,
    w_body: float = BM25F_W_BODY,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Field-weighted BM25F top-k (bm25f_scores) over the corpus'
    inline_source. Fields are carved deterministically from the single
    text column (title = first `title_len` tokens, body = rest) so the
    DuckDB oracle can agree."""
    src = inline_source(docs, id_col, text_col, title_len)
    return top_k(bm25f_scores(*src, query, title_len, w_title, w_body, k1, b), k)


def dismax_scores(
    post: DataFrame,
    stats,
    query: str,
    tie: float = 0.3,
    title_len: int = BM25F_TITLE_LEN,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Disjunction-max (doc_id, score) — the one body of the OTHER classic
    multi-field scorer besides BM25F (Lucene DisjunctionMaxQuery): each
    field is scored as an independent BM25 sub-index (its OWN df, dl,
    avgdl), and per (doc, term) the fused score is

        dismax(d,t) = max_f s_f(d,t) + tie · (Σ_f s_f(d,t) − max_f s_f(d,t))

    summed over query terms. Where BM25F fuses tf BEFORE saturation,
    DisMax fuses complete per-field scores AFTER — it rewards the best
    single field rather than accumulation across fields, which is why
    Lucene defaults multi-field queries to it.

    Per-field tf and dl come from field_postings, per-field df is counted
    in plan (rows with tf_f > 0), and each field score is bm25_term_score
    over its own df/tf/dl/avgdl; a field without the term scores NULL and
    is left out of the greatest/coalesce fusion. One pruned scan and one
    doc_id aggregation; the only join is a stats relation's (with_stats).

    Deviation from Lucene (documented per ADVICE r06): idf uses the GLOBAL
    document count for every field while honoring per-field df/dl/avgdl;
    Lucene's DisjunctionMaxQuery uses each field's own docCount, so idf
    here is slightly inflated for sparse fields relative to Lucene. With
    the deterministic title/body carving every doc has both fields, making
    per-field docCount equal to n_docs anyway — the shared-n_docs choice
    is exact for this carving and only approximate for naturally-sparse
    fields."""
    rows = field_postings(post, _query_terms(query), title_len).select(
        "*",
        *[
            F.expr(f"count(CASE WHEN tf_{f} > 0 THEN 1 END) OVER (PARTITION BY term)")
            .alias(f"df_{f}")
            for f in ("t", "b")
        ],
    )
    rows, (n_docs, _avgdl, avgdl_t, avgdl_b) = with_stats(rows, stats)

    def field_score(f: str, avgdl_f) -> Column:
        _idf, ts = bm25_term_score(n_docs, avgdl_f, f"df_{f}", f"tf_{f}", f"dl_{f}", k1, b)
        return F.when(F.col(f"tf_{f}") > 0, ts)

    scored = rows.select(
        "doc_id", field_score("t", avgdl_t).alias("s_t"), field_score("b", avgdl_b).alias("s_b")
    )
    best = F.greatest(F.col("s_t"), F.col("s_b"))
    dm = best + F.lit(tie) * (
        F.coalesce(F.col("s_t"), F.lit(0.0)) + F.coalesce(F.col("s_b"), F.lit(0.0)) - best
    )
    return (
        scored.select("doc_id", dm.alias("dm"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("dm"), 4).alias("score"))
    )


def dismax_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    tie: float = 0.3,
    title_len: int = BM25F_TITLE_LEN,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Disjunction-max top-k (dismax_scores) over the corpus'
    inline_source, fields carved like bm25f_search."""
    src = inline_source(docs, id_col, text_col, title_len)
    return top_k(dismax_scores(*src, query, tie, title_len, k1, b), k)


def slop_starts_expr(arr_of: dict, terms: list[str], slop: int):
    """Column: the start positions at which ``terms`` occur IN ORDER with
    at most ``slop`` extra tokens interleaved in total (ordered sloppy
    phrase, Lucene `"a b"~k` restricted to in-order matches; slop=0 is
    the exact phrase). ``arr_of`` maps each term to its per-doc position
    array Column.

    Exists-semantics via greedy chaining: from a candidate start p, each
    subsequent term takes its MINIMAL position greater than the previous
    one — greedy minimizes the final position for a fixed start (simple
    induction), so a window ≤ n-1+slop exists iff the greedy window
    qualifies. Pure array expressions inside codegen: per start, one
    filter+array_min per remaining term."""

    def window_end(p):
        cur = p
        for t in terms[1:]:
            cur = F.array_min(
                F.filter(arr_of[t], (lambda c: lambda q: q > c)(cur))
            )
        return cur

    span = len(terms) - 1 + slop
    if len(terms) == 1:
        return arr_of[terms[0]]
    # a failed chain yields NULL; NULL predicate results are dropped by
    # array filter (SQL WHERE semantics), so no explicit isNotNull guard
    return F.filter(arr_of[terms[0]], lambda p: window_end(p) - p <= span)


def exact_starts_expr(arr_of: dict, terms: list[str]):
    """Column: start positions of the exact consecutive phrase, given each
    term's per-doc position array — the array_contains chain shared by
    phrase_counts and the query-language compiler."""
    if len(terms) == 1:
        return arr_of[terms[0]]
    return F.filter(
        arr_of[terms[0]],
        lambda p: reduce(
            operator.and_,
            [
                F.array_contains(arr_of[t], p + F.lit(i))
                for i, t in enumerate(terms[1:], start=1)
            ],
        ),
    )


def phrase_counts(post: DataFrame, terms: list[str], slop: int | None = None) -> DataFrame:
    """(doc_id, n_occurrences) — the one phrase body over any positional
    posting relation: read only the phrase terms' rows, gather each
    distinct term's position array per doc in ONE aggregation, and count
    the start positions of the exact phrase (exact_starts_expr, ``slop``
    None) or of the ordered sloppy phrase (slop_starts_expr) — array
    expressions inside codegen, no positional join."""
    if not terms:
        raise ValueError("empty phrase")
    uniq = sorted(set(terms))
    col_of = {t: f"_pos_{i}" for i, t in enumerate(uniq)}
    slots = post.filter(F.col("term").isin(uniq)).groupBy("doc_id").agg(
        *[F.max(F.when(F.col("term") == t, F.col("positions"))).alias(col_of[t]) for t in uniq]
    )
    # a doc lacking any phrase term can't match (its array is NULL)
    for t in uniq:
        slots = slots.filter(F.col(col_of[t]).isNotNull())
    arr_of = {t: F.col(col_of[t]) for t in uniq}
    if slop is None:
        starts = exact_starts_expr(arr_of, terms)
    else:
        starts = slop_starts_expr(arr_of, terms, slop)
    return (
        slots.select("doc_id", F.size(starts).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def phrase_match(
    docs: DataFrame, phrase: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Documents containing the exact token phrase: phrase_counts over the
    corpus' positional postings. Returns (doc_id, n_occurrences)."""
    return phrase_counts(positional_postings(docs, id_col, text_col), _py_tokenize(phrase))


def sloppy_phrase_match(
    docs: DataFrame,
    phrase: str,
    slop: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents containing the ordered sloppy phrase (slop_starts_expr,
    slop 0 included): phrase_counts over the corpus' positional postings.
    Returns (doc_id, n_starts)."""
    terms = _py_tokenize(phrase)
    if len(terms) < 2:
        raise ValueError("sloppy phrase needs at least two terms")
    post = positional_postings(docs, id_col, text_col)
    return phrase_counts(post, terms, slop).withColumnRenamed("n_occurrences", "n_starts")


def proximity_pairs(post: DataFrame, term_a: str, term_b: str, window: int = 5) -> DataFrame:
    """(doc_id, n_pairs, min_distance) — the one NEAR/k body over any
    positional posting relation: read only the two terms' rows, gather
    both position arrays per doc in one aggregation, and count/min the
    |pa-pb| <= window pairs with array expressions — no explode, no
    join."""
    both = (
        post.filter(F.col("term").isin(sorted({term_a, term_b})))
        .groupBy("doc_id")
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
    return both.select(
        "doc_id", F.size(dists).alias("n_pairs"), F.array_min(dists).alias("min_distance")
    ).filter(F.col("n_pairs") > 0)


def proximity_match(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents where ``term_a`` and ``term_b`` co-occur within ``window``
    tokens (the NEAR/k operator): proximity_pairs over the corpus'
    positional postings. Returns (doc_id, n_pairs, min_distance)."""
    return proximity_pairs(positional_postings(docs, id_col, text_col), term_a, term_b, window)


def boolean_search(
    docs: DataFrame,
    all_of: list[str] | None = None,
    any_of: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """AND/OR term search over the posting table. Returns (doc_id, n_matched).
    AND = docs matching every term in `all_of`; OR widens with `any_of`."""
    all_of = [t for s in (all_of or []) for t in _py_tokenize(s)]
    any_of = [t for s in (any_of or []) for t in _py_tokenize(s)]
    post = postings(docs, id_col, text_col)
    wanted = post.filter(F.col("term").isin(sorted(set(all_of + any_of))))
    per_doc = wanted.groupBy("doc_id").agg(
        F.countDistinct(F.when(F.col("term").isin(all_of), F.col("term"))).alias("n_all"),
        F.countDistinct("term").alias("n_matched"),
    )
    if all_of:
        per_doc = per_doc.filter(F.col("n_all") == len(set(all_of)))
    return per_doc.select("doc_id", "n_matched")


def _py_tokenize(s: str) -> list[str]:
    """Driver-side tokenizer for query strings — same spec as text.tokenize."""
    import re

    return [t for t in re.split("[^a-z0-9]+", s.lower()) if t]
