"""Full-text search core: posting lists, TF-IDF, BM25, phrase search.

This is the capability the reference fork exists for ("full-text query
within the Spark framework") rebuilt Spark-first (SURVEY.md §7 steps 3-4):

- the inverted index IS a DataFrame: ``postings(term, doc_id, tf)`` built by
  explode + groupBy — shuffle-parallel, no driver state; the positional
  form carries each doc's length ``dl``, so nothing joins dl back in;
- scores (TF-IDF, BM25) are pure aggregations over that table;
- search = tokenize query → prune postings to the query terms → score →
  global top-k, planned by Spark as TakeOrderedAndProject (per-partition
  heaps — reference limit.scala:114).

The BM25 term weight is ONE expression, ``bm25_term_score``, shared by
inline and indexed BM25, query-language and simple-syntax search, the
indexed multi-field scorers and the percolator. Per-term df is counted in
plan (``df_over_term``); the corpus stats (n_docs, avgdl) come from a
one-row relation joined in (inline) or from cached literals (the persisted
index). At 100 TB the posting table is persisted bucketed by term
(sources.tables.write_bucketed) so per-query term lookups are pruned scans
with zero shuffle. Nothing here ever collects unbounded data to the
driver.

Reference anchors: tokenization seed `Sentences` stringExpressions.scala:1393;
TF via explode+groupBy mirrors ml.feature.HashingTF/CountVectorizer
(HashingTF.scala:40, CountVectorizer.scala:122); IDF formula parity with
ml.feature.IDF (IDF.scala:67: log((N+1)/(df+1))); BM25 uses the standard
Robertson/Lucene formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from sparkfulltextquery_spark.functions.text import tokenize

BM25_K1 = 1.2
BM25_B = 0.75


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


def bm25_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(doc_id, score) BM25 scores for every doc matching ≥1 query term —
    the un-truncated scoring relation: bm25_term_scores summed per doc and
    rounded at 4dp."""
    return (
        bm25_term_scores(docs, query, id_col, text_col, k1, b)
        .groupBy("doc_id")
        .agg(F.round(F.sum("tscore"), 4).alias("score"))
    )


def bm25_term_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-(doc_id, term) BM25 contribution relation — the un-aggregated
    form behind bm25_scores, and the substance of a Lucene-style
    Explanation (o.a.lucene.search.similarities BM25Similarity.explain):
    (doc_id, term, tf, df, dl, idf, tscore).

    The postings are pruned to the query terms right after the explode
    and carry each doc's length; df is counted in plan over them, and
    n_docs/avgdl come from a one-row relation over EVERY doc — a
    token-empty or NULL-text doc counts (dl 0), as in the index's stats
    table — joined in as
    the plan's only join."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    if not q_terms:
        raise ValueError("empty query after tokenization")

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(doc_len("toks")).alias("avgdl")
    )
    qpost = (
        toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .filter(F.col("term").isin(q_terms))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf, tscore = bm25_term_score("n_docs", "avgdl", k1=k1, b=b)
    return (
        qpost.select("*", df_over_term().alias("df"))
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", "tf", "df", "dl", idf.alias("idf"), tscore.alias("tscore"))
    )


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
    scored = bm25_scores(docs, query, id_col, text_col, k1, b)
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


BM25F_TITLE_LEN = 10
BM25F_W_TITLE = 2.0
BM25F_W_BODY = 1.0


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
    ts = bm25_term_scores(docs, query, id_col, text_col, k1, b)
    return explain_from_term_scores(ts, k)


def explain_from_term_scores(ts: DataFrame, k: int) -> DataFrame:
    """Shared tail of both explain paths (inline and indexed): total the
    per-(doc, term) contributions, take the deterministic top-k, broadcast
    the k-row relation back in, and emit the 4dp-rounded breakdown."""
    top = (
        ts.groupBy("doc_id")
        .agg(F.round(F.sum("tscore"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )
    return ts.join(F.broadcast(top), "doc_id").select(
        "doc_id",
        "score",
        "term",
        "tf",
        "df",
        F.round("idf", 4).alias("idf"),
        F.round("tscore", 4).alias("tscore"),
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
    """Field-weighted BM25F top-k (Zaragoza/Robertson simple-BM25F):
    per-field tf is length-normalized with that field's own avgdl, weighted,
    and folded into one saturating term frequency before the idf product —
    NOT a per-field score sum (which over-counts saturation):

        tfw(d,t)  = Σ_f  w_f · tf_f / (1 − b + b · dl_f/avgdl_f)
        score(d)  = Σ_t  idf(t) · tfw / (k1 + tfw)

    Fields are carved deterministically from the single text column (title =
    first `title_len` tokens, body = rest) so the DuckDB oracle can agree.
    Same plan discipline as bm25_search: IN-list prune before any join,
    per-field stats broadcast, one groupBy(doc_id), top-k heap."""
    q_terms = sorted({t for t in _py_tokenize(query)})
    if not q_terms:
        raise ValueError("empty query after tokenization")

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )
    fields = toks.select(
        "doc_id",
        F.slice("toks", 1, title_len).alias("title"),
        F.slice(
            "toks",
            F.lit(title_len + 1),
            F.greatest(F.size("toks") - title_len, F.lit(0)),
        ).alias("body"),
    )
    ftoks = fields.select(
        "doc_id",
        F.explode(
            F.create_map(
                F.lit("title"), F.col("title"), F.lit("body"), F.col("body")
            )
        ).alias("field", "ftoks"),
    )
    # per-field doc lengths + avgdl BEFORE the query filter (stats are
    # corpus properties); the term scan itself is pruned by the IN-list
    dl = ftoks.select("doc_id", "field", F.size("ftoks").alias("dl"))
    avgdl = dl.groupBy("field").agg(F.avg("dl").alias("avgdl"))
    fpost = ftoks.select("doc_id", "field", F.explode("ftoks").alias("term"))
    qpost = (
        fpost.filter(F.col("term").isin(q_terms))
        .groupBy("doc_id", "field", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = qpost.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    w = F.when(F.col("field") == "title", F.lit(w_title)).otherwise(F.lit(w_body))
    tfw = (
        qpost.join(dl, ["doc_id", "field"])
        .join(F.broadcast(avgdl), "field")
        .withColumn(
            "part",
            w * F.col("tf") / (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")),
        )
        .groupBy("doc_id", "term")
        .agg(F.sum("part").alias("tfw"))
    )
    scored = (
        tfw.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("idf") * F.col("tfw") / (F.lit(k1) + F.col("tfw"))), 4
            ).alias("score")
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


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
    """Disjunction-max top-k (Lucene DisjunctionMaxQuery — the OTHER classic
    multi-field scorer besides BM25F): each field is scored as an
    independent BM25 sub-index (its OWN df, dl, avgdl), and per (doc, term)
    the fused score is

        dismax(d,t) = max_f s_f(d,t) + tie · (Σ_f s_f(d,t) − max_f s_f(d,t))

    summed over query terms. Where BM25F fuses tf BEFORE saturation,
    DisMax fuses complete per-field scores AFTER — it rewards the best
    single field rather than accumulation across fields, which is why
    Lucene defaults multi-field queries to it.

    Fields carve deterministically like bm25f_search (title = first
    `title_len` tokens). Same plan shape: IN-list prune before joins,
    per-field stats broadcast, two bounded aggregations, top-k heap.

    Deviation from Lucene (documented per ADVICE r06): idf uses the GLOBAL
    document count for every field while honoring per-field df/dl/avgdl;
    Lucene's DisjunctionMaxQuery uses each field's own docCount, so idf
    here is slightly inflated for sparse fields relative to Lucene. With
    the deterministic title/body carving every doc has both fields, making
    per-field docCount equal to n_docs anyway — the shared-n_docs choice
    is exact for this carving and only approximate for naturally-sparse
    fields."""
    q_terms = sorted(set(_py_tokenize(query)))
    if not q_terms:
        raise ValueError("empty query after tokenization")
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )
    fields = toks.select(
        "doc_id",
        F.slice("toks", 1, title_len).alias("title"),
        F.slice(
            "toks",
            F.lit(title_len + 1),
            F.greatest(F.size("toks") - title_len, F.lit(0)),
        ).alias("body"),
    )
    ftoks = fields.select(
        "doc_id",
        F.explode(
            F.create_map(
                F.lit("title"), F.col("title"), F.lit("body"), F.col("body")
            )
        ).alias("field", "ftoks"),
    )
    dl = ftoks.select("doc_id", "field", F.size("ftoks").alias("dl"))
    avgdl = dl.groupBy("field").agg(F.avg("dl").alias("avgdl"))
    fpost = ftoks.select("doc_id", "field", F.explode("ftoks").alias("term"))
    qpost = (
        fpost.filter(F.col("term").isin(q_terms))
        .groupBy("doc_id", "field", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # per-FIELD document frequency — each field is its own sub-index
    dfreq = qpost.groupBy("field", "term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    s = (
        qpost.join(dl, ["doc_id", "field"])
        .join(F.broadcast(avgdl), "field")
        .join(F.broadcast(dfreq), ["field", "term"])
        .crossJoin(F.broadcast(n))
        .withColumn(
            "s",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    fused = s.groupBy("doc_id", "term").agg(
        (F.max("s") + F.lit(tie) * (F.sum("s") - F.max("s"))).alias("dm")
    )
    return (
        fused.groupBy("doc_id")
        .agg(F.round(F.sum("dm"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


def positional_relation(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, term) — ONE tokenization of the corpus from which both
    the posting table (groupBy) and phrase matching (positional joins)
    derive, so a query mixing terms and phrases scans the corpus once."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "term"),
    )


def phrase_match(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos: DataFrame | None = None,
) -> DataFrame:
    """Documents containing the exact token phrase, via positional join:
    posexplode positions, self-equi-join on (doc_id, pos+i) per phrase term.
    Scales as an equi-join on (doc_id, pos) — shuffle-partitioned, no theta.
    Returns (doc_id, n_occurrences). Pass ``pos`` (a positional_relation)
    to reuse an existing tokenization."""
    terms = _py_tokenize(phrase)
    if not terms:
        raise ValueError("empty phrase")
    if pos is None:
        pos = positional_relation(docs, id_col, text_col)
    first = pos.filter(F.col("term") == terms[0]).select("doc_id", F.col("pos").alias("p0"))
    cur = first
    for i, t in enumerate(terms[1:], start=1):
        nxt = pos.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        cur = cur.join(nxt, ["doc_id", "p0"])
    return cur.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_occurrences"))


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


def sloppy_phrase_match(
    docs: DataFrame,
    phrase: str,
    slop: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos: DataFrame | None = None,
) -> DataFrame:
    """Documents containing the ordered sloppy phrase (see
    slop_starts_expr). One aggregation gathers each phrase term's sorted
    position array per doc (collect_list skips the non-matching rows'
    NULLs), then the greedy chain runs as array expressions — no
    positional self-joins (contrast phrase_match's slop=0 equi-join
    form). Returns (doc_id, n_starts)."""
    terms = _py_tokenize(phrase)
    if len(terms) < 2:
        raise ValueError("sloppy phrase needs at least two terms")
    if pos is None:
        pos = positional_relation(docs, id_col, text_col)
    uniq = sorted(set(terms))
    col_of = {t: f"_pos_{i}" for i, t in enumerate(uniq)}
    slots = (
        pos.filter(F.col("term").isin(uniq))
        .groupBy("doc_id")
        .agg(
            *[
                F.sort_array(
                    F.collect_list(F.when(F.col("term") == t, F.col("pos")))
                ).alias(col_of[t])
                for t in uniq
            ]
        )
    )
    for t in uniq:
        slots = slots.filter(F.size(F.col(col_of[t])) > 0)
    starts = slop_starts_expr({t: F.col(col_of[t]) for t in uniq}, terms, slop)
    return (
        slots.select("doc_id", F.size(starts).alias("n_starts"))
        .filter(F.col("n_starts") > 0)
    )


def exact_starts_expr(arr_of: dict, terms: list[str]):
    """Column: start positions of the exact consecutive phrase, given each
    term's per-doc position array — the array_contains chain shared by the
    inline and indexed phrase paths."""
    if len(terms) == 1:
        return arr_of[terms[0]]
    conds = lambda p: [  # noqa: E731
        F.array_contains(arr_of[t], p + F.lit(i))
        for i, t in enumerate(terms[1:], start=1)
    ]

    def _and(cs):
        out = cs[0]
        for c in cs[1:]:
            out = out & c
        return out

    return F.filter(arr_of[terms[0]], lambda p: _and(conds(p)))


def proximity_match(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    window: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos: DataFrame | None = None,
) -> DataFrame:
    """Documents where ``term_a`` and ``term_b`` co-occur within ``window``
    tokens (the NEAR/k operator): per-doc position-list join with a range
    predicate. Returns (doc_id, n_pairs, min_distance).

    Scales like phrase_match: the join is equi on doc_id and each side is
    one term's positions (posting-sized, not corpus-sized); per-doc
    position lists bound the range comparison. For adversarially long
    documents the same block-bucketing rewrite as operators/rangejoin.py
    applies (bucket pos by window width, join adjacent buckets)."""
    if pos is None:
        pos = positional_relation(docs, id_col, text_col)
    pa = pos.filter(F.col("term") == term_a).select("doc_id", F.col("pos").alias("pa"))
    pb = pos.filter(F.col("term") == term_b).select("doc_id", F.col("pos").alias("pb"))
    d = F.abs(F.col("pa") - F.col("pb"))
    return (
        pa.join(pb, "doc_id")
        .filter(d <= window)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(d).alias("min_distance"),
        )
    )


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
