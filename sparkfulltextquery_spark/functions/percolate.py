"""Percolation / reverse search (r8 split of fulltext_queries.py for
file-size hygiene; no behavior change): the Elasticsearch percolator /
Lucene Monitor surface — conjunctive, boolean (AND/OR/NOT + phrase),
expansion-atom (dictionary-resolved), persisted-registry, summary and
alerting forms, all compiled to ONE shared posting scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions import fulltext as FT
from sparkfulltextquery_spark.functions.fulltext_queries import (
    _POSTINGS_CTE,
    _TOK,
    _ensure_index,
)
from sparkfulltextquery_spark.registry import query
from sparkfulltextquery_spark.sources import load_table


# stored percolator queries: (query_id, required terms) — conjunctive
_PERCOLATE_QUERIES = [
    (1, ["join", "spark"]),
    (2, ["vector"]),
    (3, ["batch", "window"]),
    (4, ["data", "query"]),
    (5, ["merge", "spark", "stream"]),
]

_PERCOLATE_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    q AS (
      SELECT * FROM (VALUES
        (1, 'join'), (1, 'spark'),
        (2, 'vector'),
        (3, 'batch'), (3, 'window'),
        (4, 'data'), (4, 'query'),
        (5, 'merge'), (5, 'spark'), (5, 'stream')
      ) AS t(query_id, term)
    ),
    qsize AS (SELECT query_id, count(*) AS n_req FROM q GROUP BY query_id),
    hit AS (
      SELECT t.doc_id, q.query_id, count(*) AS n_matched
      FROM tfs t JOIN q USING (term)
      GROUP BY t.doc_id, q.query_id
    )
    SELECT h.query_id,
           count(*) AS n_docs,
           min(h.doc_id) AS first_doc
    FROM hit h JOIN qsize s USING (query_id)
    WHERE h.n_matched = s.n_req
    GROUP BY h.query_id
    ORDER BY h.query_id
    """


@query("fulltext_percolate", oracle=_PERCOLATE_ORACLE)
def fulltext_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation — REVERSE search (the Elasticsearch percolator / Lucene
    Monitor surface): a registry of stored conjunctive queries is matched
    against every document; for each stored query, how many documents
    (and which first) satisfy ALL its terms. The classic alerting /
    saved-search primitive.

    Scale shape: the stored-query term table is tiny and BROADCAST into
    the posting relation (at deploy scale, thousands of stored queries
    still broadcast); matching is one (doc, query) hash aggregation with
    the conjunction tested as matched-count == required-count — never a
    per-query corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _PERCOLATE_QUERIES for t in terms],
        "query_id int, term string",
    )
    qsize = q.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_req"))
    post = FT.postings(d)
    hit = (
        post.join(F.broadcast(q), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        hit.join(F.broadcast(qsize), "query_id")
        .filter(F.col("n_matched") == F.col("n_req"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("query_id")
    )


# expansion-atom key/predicate helpers are shared with indexed AND inline
# search (r9 unification — ONE resolution discipline everywhere)
from sparkfulltextquery_spark.functions.index_expand import (  # noqa: E402
    expansion_key as _exp_key_of,
    expansion_pred as _exp_pred,
)


#: Column-width boundary of the one-scan flag compile (r9, VERDICT r08 #1):
#: registries LARGER than this chunk into groups of this size, each group
#: compiled as its own pruned one-scan aggregation, results unioned —
#: correct because percolation is per-(query, document) with no
#: cross-query state. MEASURED at sf0.1 (scripts/
#: measure_percolator_boundary.py; table in SCALE.md round-9 section):
#: single-compile plan build is ~14-17 ms/query and mildly superlinear
#: (14.4s at 1k queries, 34.2s at 2k), and single-compile EXECUTION
#: degrades past ~1k stored queries (6.2s vs 3.6s chunked at 2k — the
#: per-doc aggregation row gets thousands of columns wide), while
#: 250-query chunks keep compile linear and execution flat (finer
#: per-chunk scan pruning, bounded agg width). Catalyst stayed sane to
#: 2k; the boundary is a measured cost knee, not a correctness cliff.
MAX_COMPILE_QUERIES = 250


def _check_distinct_ids(queries) -> None:
    """Registry-wide duplicate-id gate (chunking would otherwise only
    catch duplicates landing in the same chunk)."""
    seen: set = set()
    for qid, _q in queries:
        if qid in seen:
            raise ValueError(
                f"duplicate stored percolator query_id {qid} — every "
                "registry entry needs a distinct id"
            )
        seen.add(qid)


def _registry_atom_terms(
    queries: list[tuple[int, str]], vocab: DataFrame | None
) -> tuple[dict, dict]:
    """The percolator's query-term index (r10, VERDICT r09 #5 — the
    Elasticsearch percolator keeps exactly this: an inverted index over
    the stored queries' extracted terms). For each stored query, the set
    of concrete posting terms whose PRESENCE could make the query true:
    plain terms, phrase tokens, and expansion atoms at even NOT-depth
    (positive polarity), with expansion atoms resolved against the
    vocabulary in ONE bounded pass for the whole registry (not one per
    chunk). Returns ``(qid -> term set, expansion cache)``; the cache
    feeds _percolate_compile so chunks never re-resolve.

    Why a zero-overlap query can be skipped: registration rejects queries
    satisfiable by the EMPTY document, and over the AND/OR/NOT grammar
    evaluation is monotone per literal polarity — turning on a term that
    occurs only under an odd number of NOTs can never flip the query
    from false to true. So a document sharing no POSITIVE-polarity term
    with the query evaluates ≤ the empty document = false. (A term
    occurring at both parities counts as positive.)

    Fail-loud contract (r11, ADVICE r10): a PURE-NEGATION stored query
    (satisfiable by the empty document) has an empty positive-term set
    and would otherwise be silently dropped here — the exact silent-miss
    the compile-time check guards against — so it raises the same
    ValueError on this path too, keeping behavior identical across
    registry sizes."""
    from sparkfulltextquery_spark.functions import querylang as QL

    asts = {}
    for qid, qs in queries:
        ast = QL.parse_query(qs)
        if QL._eval_empty(ast):
            raise ValueError(
                f"stored percolator query {qid} ({qs!r}) is satisfiable by "
                "the empty document (pure negation) — percolator queries "
                "need at least one positive atom"
            )
        asts[qid] = ast
    per_q_terms: dict[int, set] = {}
    per_q_keys: dict[int, set] = {}
    all_keys: set = set()

    def walk(n, terms: set, pos_keys: set, neg: bool):
        if isinstance(n, QL.Term):
            if not neg:
                terms.add(n.text)
        elif isinstance(n, QL.Phrase):
            if not neg:
                terms.update(FT._py_tokenize(n.text))
        elif _exp_key_of(n) is not None and vocab is not None:
            # the cache must carry BOTH polarities (compile needs every
            # atom's term list); only positive occurrences feed the
            # candidate term set
            all_keys.add(_exp_key_of(n))
            if not neg:
                pos_keys.add(_exp_key_of(n))
        elif isinstance(n, QL.Not):
            walk(n.child, terms, pos_keys, not neg)
        elif isinstance(n, (QL.And, QL.Or)):
            for c in n.children:
                walk(c, terms, pos_keys, neg)
        else:
            # same fail-loud contract as _percolate_compile — the
            # prefilter must never silently drop a query the compiler
            # would have rejected loudly
            raise ValueError(
                f"percolator supports term/phrase/AND/OR/NOT atoms "
                f"(+ expansion atoms when a vocab relation is supplied), "
                f"got {type(n).__name__}"
            )

    for qid, ast in asts.items():
        t: set = set()
        ks: set = set()
        walk(ast, t, ks, False)
        per_q_terms[qid] = t
        per_q_keys[qid] = ks

    expansion_cache: dict = {}
    if all_keys:
        from sparkfulltextquery_spark.functions.index import (
            resolve_expansions_over,
        )

        expansion_cache = resolve_expansions_over(
            vocab.select("term"),
            [(k, _exp_pred(k)) for k in sorted(all_keys)],
        )
    for qid, ks in per_q_keys.items():
        for k in ks:
            per_q_terms[qid].update(expansion_cache.get(k, []))
    return per_q_terms, expansion_cache


#: Registry-term-union width past which the AD-HOC (unregistered)
#: prefilter switches from one isin literal to the same broadcast-join
#: shape as the persisted index: planning an In-list of 10^5+ string
#: literals is minutes of Catalyst work per call (the measured 100k-leg
#: knee), while a local-relation broadcast join is one bounded job whose
#: collect is candidate-ids, not registry vocabulary.
PREFILTER_ISIN_MAX_TERMS = 10_000


def _prefilter_candidates(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None,
) -> tuple[list[tuple[int, str]], dict]:
    """Drop stored queries whose atom-term set has ZERO overlap with the
    batch's term set (they cannot match — see _registry_atom_terms), so
    chunk compilation and execution scale with the CANDIDATE registry
    slice, not the registry size. One bounded job: the batch's distinct
    terms intersected with the registry vocabulary (isin + collect for
    small registries; the broadcast-join shape past
    PREFILTER_ISIN_MAX_TERMS union terms — r11, so ad-hoc large
    registries don't pay the In-list planning knee either; registered
    registries get the better deal still, parsing only candidates via
    the persisted index). Returns (surviving queries in original order,
    expansion cache for the compiler)."""
    qterms, expansion_cache = _registry_atom_terms(queries, vocab)
    union_all = sorted(set().union(*qterms.values()) if qterms else set())
    if not union_all:
        return [], expansion_cache
    if len(union_all) > PREFILTER_ISIN_MAX_TERMS:
        # expansion atoms are already resolved into qterms, so no
        # NULL-term always-candidate rows are needed on this path
        term_df = rel.sparkSession.createDataFrame(
            [(qid, t) for qid, ts in qterms.items() for t in sorted(ts)],
            TERM_INDEX_SCHEMA,
        )
        cand = {
            int(r.query_id)
            for r in rel.select("term")
            .join(F.broadcast(term_df), "term")
            .select("query_id")
            .distinct()
            .collect()
        }
        return [q for q in queries if q[0] in cand], expansion_cache
    present = {
        r[0]
        for r in rel.filter(F.col("term").isin(union_all))
        .select("term")
        .distinct()
        .collect()
    }
    return [q for q in queries if qterms[q[0]] & present], expansion_cache


#: Schema of the persisted percolator query-term index: one row per
#: (stored query, positive concrete term); a NULL term marks a query with
#: a positive EXPANSION atom (prefix/fuzzy/range/regex/wildcard), which is
#: always a prefilter candidate — its concrete terms depend on the vocab
#: of each percolated batch, so they cannot be pinned at registration.
TERM_INDEX_SCHEMA = "query_id int, term string"

#: Bucket count for the PERSISTED query-term index (r12, VERDICT r11 #1 —
#: the build_index posting-bucketing discipline applied to the registry
#: side): bucketing by term keeps a future shuffle join term-co-located
#: and the per-term row groups tight; 16 buckets sizes a multi-million-row
#: index (1M stored queries ≈ 2-3M rows) at ~10⁵ rows/bucket.
TERM_INDEX_BUCKETS = 16

#: Term-index row count past which _prefilter_candidates_indexed FLIPS the
#: broadcast side (r12, VERDICT r11 #1): below it the whole (bounded) term
#: index broadcasts into the batch scan — one hash join, no batch-side
#: shuffle — the shape MEASURED fine through the ~2·10⁵-row 100k-query
#: regime (SCALE.md r11); above it broadcasting the index is the knee (a
#: 1M-query registry is millions of rows shipped to every task, per
#: percolate), so the BATCH's distinct terms broadcast instead — bounded
#: by the batch vocabulary, independent of registry size — and the
#: (term-bucketed) index side streams.
PREFILTER_INDEX_BROADCAST_MAX_ROWS = 500_000

#: Registration stamp column (r12, ADVICE r11): registry + term index are
#: two tables written non-atomically; a shared fresh-per-write stamp lets
#: readers detect a crash between the writes (stamp mismatch → fall back
#: to the in-memory prefilter) instead of prefiltering off a stale index
#: and silently missing alerts.
REG_STAMP_COL = "reg_stamp"

TERM_INDEX_STAMPED_SCHEMA = (
    f"query_id int, term string, {REG_STAMP_COL} string"
)


def term_index_rows(
    queries: list[tuple[int, str]]
) -> list[tuple[int, str | None]]:
    """Build the rows of the percolator's PERSISTED query-term index
    (r11, VERDICT r10 #1 — the posting-list inversion of the reference's
    HashingTF.scala:40 discipline applied to QUERIES instead of
    documents): for each stored query, one (query_id, term) row per
    positive-polarity concrete term (plain terms + phrase tokens), plus
    one (query_id, NULL) row when the query carries a positive expansion
    atom (see TERM_INDEX_SCHEMA). Enforces the full registration
    contract while it parses — distinct ids, no pure negation, supported
    atom kinds only — so a registry whose term index builds is a registry
    that compiles.

    Soundness of prefiltering on these rows (same monotone-polarity
    argument as _registry_atom_terms): a document can only match a stored
    query if it shares one of the query's positive concrete terms OR the
    query has a positive expansion atom (whose reach is vocab-dependent,
    hence always-candidate). Queries with positive expansion atoms are a
    CONSERVATIVE superset versus the in-memory prefilter (which resolves
    atoms against the batch vocab) — never a miss."""
    from sparkfulltextquery_spark.functions import querylang as QL

    _check_distinct_ids(queries)
    rows: list[tuple[int, str | None]] = []
    for qid, qs in queries:
        ast = QL.parse_query(qs)
        if QL._eval_empty(ast):
            raise ValueError(
                f"stored percolator query {qid} ({qs!r}) is satisfiable by "
                "the empty document (pure negation) — percolator queries "
                "need at least one positive atom"
            )
        terms: set = set()
        has_pos_exp = False

        def walk(n, neg: bool):
            nonlocal has_pos_exp
            if isinstance(n, QL.Term):
                if not neg:
                    terms.add(n.text)
            elif isinstance(n, QL.Phrase):
                if not neg:
                    terms.update(FT._py_tokenize(n.text))
            elif _exp_key_of(n) is not None:
                if not neg:
                    has_pos_exp = True
            elif isinstance(n, QL.Not):
                walk(n.child, not neg)
            elif isinstance(n, (QL.And, QL.Or)):
                for c in n.children:
                    walk(c, neg)
            else:
                raise ValueError(
                    f"percolator supports term/phrase/AND/OR/NOT atoms "
                    f"(+ expansion atoms when a vocab relation is "
                    f"supplied), got {type(n).__name__}"
                )

        walk(ast, False)
        rows.extend((qid, t) for t in sorted(terms))
        if has_pos_exp or not terms:
            # not terms: defensive — _eval_empty guarantees a positive
            # atom exists, so an empty term set implies an expansion atom,
            # but an always-candidate row can never cause a missed alert
            rows.append((qid, None))
    return rows


def _candidate_id_df(
    rel: DataFrame,
    term_index: DataFrame,
    term_index_rows: int | None = None,
) -> DataFrame:
    """Distinct candidate query ids as a RELATION: the term-index join
    against the batch's posting terms, union the NULL-term
    always-candidates, distinct — with the r12 broadcast-side
    auto-select (see _prefilter_candidates_indexed). Kept as a DataFrame
    so callers choose between collecting the (bounded) id set and
    joining it back against the registry table (percolate_from_table's
    candidate-slice fetch)."""
    nn = term_index.filter(F.col("term").isNotNull()).select(
        "term", "query_id"
    )
    if term_index_rows is None:
        term_index_rows = term_index.count()
    if term_index_rows > PREFILTER_INDEX_BROADCAST_MAX_ROWS:
        hit = nn.join(
            F.broadcast(rel.select("term").distinct()), "term"
        ).select("query_id")
    else:
        hit = rel.select("term").join(F.broadcast(nn), "term").select(
            "query_id"
        )
    always = term_index.filter(F.col("term").isNull()).select("query_id")
    return hit.union(always).distinct()


def _prefilter_candidates_indexed(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None,
    term_index: DataFrame,
    term_index_rows: int | None = None,
) -> tuple[list[tuple[int, str]], dict]:
    """Shuffle-parallel prefilter against a query-term-index RELATION
    (r11, VERDICT r10 #1): candidate query ids come from ONE broadcast
    hash join of the term index against the batch's posting terms — no
    driver-side per-query term sets, no giant isin literal, and crucially
    the driver parses ONLY the candidate slice (the in-memory prefilter
    parses the whole registry per call, the knee at 100k+ stored
    queries). NULL-term rows (positive expansion atoms) are unconditional
    candidates. The collect is bounded by the number of DISTINCT
    candidate ids ≤ registry size, typically the small matching slice.
    Returns (surviving queries in original order, expansion cache for the
    chunk compiles — resolved once over the survivors).

    Build-side auto-select (r12, VERDICT r11 #1): up to
    PREFILTER_INDEX_BROADCAST_MAX_ROWS index rows the index is the
    broadcast side (one hash join streamed over the batch); past it —
    the 1M-stored-query regime — the BATCH's distinct terms broadcast
    into a join streamed over the (term-bucketed) persisted index, so
    the shipped side is bounded by batch vocabulary, not registry size.
    ``term_index_rows`` lets long-lived callers (streams, table readers)
    pin the count once instead of paying a count job per percolate."""
    cand_df = _candidate_id_df(rel, term_index, term_index_rows)
    cand = {int(r.query_id) for r in cand_df.collect()}
    survivors = [q for q in queries if q[0] in cand]
    if not survivors:
        return [], {}
    # resolve the survivors' expansion atoms ONCE for every chunk —
    # parses only the candidate slice (the whole point of the relation)
    _qterms, expansion_cache = _registry_atom_terms(survivors, vocab)
    return survivors, expansion_cache


def _chunks(queries, chunk_size: int):
    return [
        queries[i : i + chunk_size] for i in range(0, len(queries), chunk_size)
    ]


def _cached_chunk(
    compile_cache: dict | None,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None,
    extra_aggs: tuple,
    expansion_cache: dict | None,
    key_extra: tuple = (),
) -> _CompiledChunk:
    """Memoized chunk compile (r12, VERDICT r11 #5): the bundle is keyed
    by the chunk's exact (qid, query) tuple, so a hit is definitionally
    the same registry slice — and the bundle's Columns are unbound, so it
    re-applies to every batch's posting relation. Bundles with expansion
    atoms resolve against each batch's vocabulary and are never cached
    (``vocab_dependent``); ``extra_aggs`` callers (the scored form) pin
    their literals at registration and fold a literal signature into the
    key via ``key_extra``, so their bundles cache safely too."""
    key = (tuple(queries), key_extra)
    if compile_cache is not None:
        hit = compile_cache.get(key)
        if hit is not None:
            return hit
    bundle = _compile_chunk(queries, vocab, extra_aggs, expansion_cache)
    if compile_cache is not None and not bundle.vocab_dependent:
        compile_cache[key] = bundle
    return bundle


class _CompiledChunk:
    """A chunk's compiled flag-expression bundle (r12, VERDICT r11 #5):
    the pruning term union, the per-doc aggregation columns, and the
    per-query match columns — all UNBOUND Column expressions (built from
    F.col over the canonical (doc_id, term, positions[, tf, dl]) posting
    schema), so the same bundle applies to every micro-batch's relation.
    ``vocab_dependent`` marks bundles containing expansion atoms, whose
    isin lists resolve against EACH batch's vocabulary — those must never
    be reused across batches."""

    __slots__ = ("union", "aggs", "match_of", "vocab_dependent")

    def __init__(self, union, aggs, match_of, vocab_dependent):
        self.union = union
        self.aggs = aggs
        self.match_of = match_of
        self.vocab_dependent = vocab_dependent

    def per_doc(self, rel: DataFrame) -> DataFrame:
        pruned = rel.filter(F.col("term").isin(self.union))
        return pruned.groupBy("doc_id").agg(*self.aggs)


def _percolate_compile(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    extra_aggs: tuple = (),
    expansion_cache: dict | None = None,
):
    b = _compile_chunk(queries, vocab, extra_aggs, expansion_cache)
    return b.per_doc(rel), b.match_of


def _compile_chunk(
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    extra_aggs: tuple = (),
    expansion_cache: dict | None = None,
) -> _CompiledChunk:
    """Boolean-query percolation core (r8, VERDICT r07 #3): compile a
    registry of stored ARBITRARY boolean queries (AND/OR/NOT + term +
    phrase atoms, the querylang grammar) against ONE shared scan of a
    positional posting relation — per-query match expressions fold as
    columns into a single doc_id aggregation. Returns a ``_CompiledChunk``
    (pruning union + agg columns + per-query match Columns, all unbound);
    the summary (_percolate_bool) and alerting (percolate_matches) forms
    build on it. No join, no per-query corpus scan; the same flag
    machinery as search_indexed but with N stored queries sharing the
    flag/slot columns.

    Contract: every stored query must have at least one positive atom
    (``_eval_empty`` false) — a query satisfiable by the EMPTY document
    (pure negation) would match every document outside the pruned scan,
    which a one-scan percolator cannot see; registration fails loudly.
    This matches the Elasticsearch percolator's requirement that stored
    queries be matchable.

    Expansion atoms (prefix/fuzzy/range/regex/wildcard) are supported
    when a ``vocab`` relation is supplied (r8): each atom resolves to
    concrete vocabulary terms at registration time through the same
    bounded one-aggregation protocol as indexed search
    (``resolve_expansions_over``, fail-loud ``max_expansions`` cap), so
    the shared scan stays an equality ``isin``. Without ``vocab``,
    expansion atoms are rejected loudly.

    Scale shape: the flag compilation is per-STORED-QUERY columns, right
    for registries up to O(10^3) queries; beyond that the conjunctive
    broadcast-join form (fulltext_percolate) partitions the registry.
    ``rel`` must expose (doc_id, term, positions); ``extra_aggs`` lets
    the scored form fold per-term BM25 contributions into the SAME
    doc_id aggregation (their expressions may reference rel's tf/dl)."""
    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.fulltext import slop_starts_expr
    from sparkfulltextquery_spark.functions.index import reduce_and

    asts: dict[int, object] = {}
    for qid, qs in queries:
        if qid in asts:
            # a silently-overwritten duplicate id means silently missed
            # alerts (ADVICE r08) — same fail-loud contract as the
            # pure-negation check below
            raise ValueError(
                f"duplicate stored percolator query_id {qid} — every "
                "registry entry needs a distinct id"
            )
        ast = QL.parse_query(qs)
        if QL._eval_empty(ast):
            raise ValueError(
                f"stored percolator query {qid} ({qs!r}) is satisfiable by "
                "the empty document (pure negation) — percolator queries "
                "need at least one positive atom"
            )
        asts[qid] = ast

    terms: set[str] = set()
    phrases: set[tuple[str, int]] = set()
    exp_keys: set[tuple] = set()

    _exp_key = _exp_key_of

    def walk(n):
        if isinstance(n, QL.Term):
            terms.add(n.text)
        elif isinstance(n, QL.Phrase):
            phrases.add((n.text, n.slop))
        elif _exp_key(n) is not None and vocab is not None:
            exp_keys.add(_exp_key(n))
        elif isinstance(n, QL.Not):
            walk(n.child)
        elif isinstance(n, (QL.And, QL.Or)):
            for c in n.children:
                walk(c)
        else:
            raise ValueError(
                f"percolator supports term/phrase/AND/OR/NOT atoms "
                f"(+ expansion atoms when a vocab relation is supplied), "
                f"got {type(n).__name__}"
            )

    for ast in asts.values():
        walk(ast)

    expansion: dict = {}
    if exp_keys:
        if expansion_cache is not None:
            # resolved once for the whole registry (_registry_atom_terms)
            # — chunks reuse instead of re-running the vocab pass
            expansion = {k: expansion_cache.get(k, []) for k in exp_keys}
        else:
            from sparkfulltextquery_spark.functions.index import (
                resolve_expansions_over,
            )

            expansion = resolve_expansions_over(
                vocab.select("term"),
                [(k, _exp_pred(k)) for k in sorted(exp_keys)],
            )

    phrase_toks = {p: FT._py_tokenize(p[0]) for p in sorted(phrases)}
    ptok_union = sorted({t for ts in phrase_toks.values() for t in ts})
    union = sorted(
        terms | set(ptok_union) | {t for ts in expansion.values() for t in ts}
    )
    flag = {t: f"_t{i}" for i, t in enumerate(sorted(terms))}
    eflag = {k: f"_e{i}" for i, k in enumerate(sorted(exp_keys))}
    slot = {t: f"_s{i}" for i, t in enumerate(ptok_union)}

    def _exp_isin(k):
        ts = expansion.get(k, [])
        return F.col("term").isin(ts) if ts else F.lit(False)

    aggs = [
        F.max(F.when(F.col("term") == t, 1).otherwise(0)).alias(c)
        for t, c in flag.items()
    ]
    aggs += [
        F.max(F.when(_exp_isin(k), 1).otherwise(0)).alias(c)
        for k, c in eflag.items()
    ]
    aggs += [
        F.max(F.when(F.col("term") == t, F.col("positions"))).alias(c)
        for t, c in slot.items()
    ]
    aggs += list(extra_aggs)

    def phrase_col(p):
        toks = phrase_toks[p]
        slop = p[1]
        slots = [slot[t] for t in toks]
        present = reduce_and([F.col(c).isNotNull() for c in slots])
        if slop:
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

    def as_col(n):
        if isinstance(n, QL.Term):
            return F.col(flag[n.text]) == 1
        if _exp_key(n) is not None:
            return F.col(eflag[_exp_key(n)]) == 1
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

    return _CompiledChunk(
        union,
        aggs,
        {qid: as_col(ast) for qid, ast in asts.items()},
        vocab_dependent=bool(exp_keys),
    )


def _percolate_bool(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    chunk_size: int | None = None,
    prefilter: bool = True,
    term_index: DataFrame | None = None,
    term_index_rows: int | None = None,
    compile_cache: dict | None = None,
    _expansion_cache: dict | None = None,
) -> DataFrame:
    """Summary form of boolean percolation: every stored query's
    (n_docs, first_doc) from ONE global aggregation over the compiled
    per-doc flags — see _percolate_compile for the machinery and the
    registration contract. Queries matching nothing are omitted.

    Registries wider than ``chunk_size`` (default MAX_COMPILE_QUERIES)
    compile in column-width-bounded groups whose results union — each
    group is its own pruned one-scan aggregation (finer pruning than one
    giant scan, and Catalyst analysis stays linear in registry size).
    ``prefilter`` (r10) first drops stored queries whose atom-term set
    has zero overlap with the batch's terms (the ES query-term-index
    trick; exactness argument in _registry_atom_terms), so compile +
    execution scale with the CANDIDATE slice of the registry.
    ``term_index`` (r11) routes the prefilter through a persisted
    query-term-index relation instead (broadcast join, candidates-only
    parse — see _prefilter_candidates_indexed, including the r12
    build-side auto-select ``term_index_rows`` pins). ``compile_cache``
    (r12, VERDICT r11 #5) memoizes each chunk's compiled flag bundle by
    its (qid, query) tuple — streaming callers pass one dict for the
    stream's lifetime so a stable candidate set compiles once, not per
    micro-batch; vocab-dependent bundles (expansion atoms) are never
    cached."""
    cs = chunk_size or MAX_COMPILE_QUERIES
    if len(queries) > cs:
        _check_distinct_ids(queries)
        cache = _expansion_cache
        if prefilter:
            if term_index is not None:
                queries, cache = _prefilter_candidates_indexed(
                    rel, queries, vocab, term_index, term_index_rows
                )
            else:
                queries, cache = _prefilter_candidates(rel, queries, vocab)
            if not queries:
                return rel.sparkSession.createDataFrame(
                    [],
                    schema=_bool_schema(rel),
                )
        out = None
        for part in _chunks(queries, cs):
            p = _percolate_bool(
                rel, part, vocab, prefilter=False,
                compile_cache=compile_cache, _expansion_cache=cache,
            )
            out = p if out is None else out.unionByName(p)
        return out.orderBy("query_id")
    bundle = _cached_chunk(
        compile_cache, queries, vocab, (), _expansion_cache
    )
    per_doc, match_of = bundle.per_doc(rel), bundle.match_of
    outs = []
    for qid, m in match_of.items():
        outs.append(F.sum(F.when(m, 1).otherwise(0)).alias(f"_n{qid}"))
        outs.append(F.min(F.when(m, F.col("doc_id"))).alias(f"_f{qid}"))
    row = per_doc.agg(*outs)
    stack_args = ", ".join(f"{qid}, _n{qid}, _f{qid}" for qid in match_of)
    return (
        row.select(
            F.expr(
                f"stack({len(match_of)}, {stack_args}) "
                "as (query_id, n_docs, first_doc)"
            )
        )
        .filter(F.col("n_docs") > 0)
        .orderBy("query_id")
    )


def _bool_schema(rel: DataFrame):
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    doc_t = rel.schema["doc_id"].dataType
    return StructType(
        [
            StructField("query_id", IntegerType()),
            StructField("n_docs", LongType()),
            StructField("first_doc", doc_t),
        ]
    )


def _matches_schema(rel: DataFrame):
    from pyspark.sql.types import IntegerType, StructField, StructType

    return StructType(
        [
            StructField("query_id", IntegerType()),
            StructField("doc_id", rel.schema["doc_id"].dataType),
        ]
    )


def percolate_matches(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    chunk_size: int | None = None,
    prefilter: bool = True,
    term_index: DataFrame | None = None,
    term_index_rows: int | None = None,
    compile_cache: dict | None = None,
    _expansion_cache: dict | None = None,
) -> DataFrame:
    """Alerting form of boolean percolation (r8): the full (query_id,
    doc_id) match table instead of per-query summaries — the shape a
    saved-search/alerting sink consumes (Elasticsearch percolator hits,
    Lucene Monitor). Same compiled shared scan and per-doc flag
    aggregation; each stored query contributes one indicator column and
    the stack unpivots matches to rows. Matching is per-DOCUMENT (no
    cross-document state), which is what makes streaming percolation
    correct batch-by-batch: percolating each micro-batch's documents
    independently yields exactly the batch result over the union.

    Registries wider than ``chunk_size`` (default MAX_COMPILE_QUERIES)
    chunk into column-width-bounded compiles whose (query_id, doc_id)
    outputs union — correct because matching carries no cross-query
    state; see MAX_COMPILE_QUERIES for the measured knee. ``prefilter``
    (r10, VERDICT r09 #5) first drops stored queries whose atom-term set
    has zero overlap with the batch's terms — the Elasticsearch
    query-term-index trick (exactness argument in _registry_atom_terms) —
    so chunk compile + execution scale with the CANDIDATE slice, not the
    registry size; at 10k stored queries and a narrow batch this is the
    difference between scanning every chunk and scanning the one or two
    that could match (measured in scripts/measure_percolator_boundary.py).
    ``term_index`` (r11, VERDICT r10 #1) routes the prefilter through a
    persisted (query_id, term) relation via ONE broadcast join — no
    driver-side term sets, no isin literal, candidates-only parse — the
    shape that survives 100k+ stored-query registries (past
    PREFILTER_INDEX_BROADCAST_MAX_ROWS index rows the BATCH's distinct
    terms become the broadcast side — r12, VERDICT r11 #1 — so 1M+
    registries ship batch-vocab-bounded data, with ``term_index_rows``
    letting long-lived callers pin the count once). ``compile_cache``
    (r12, VERDICT r11 #5): one dict per stream memoizes each chunk's
    compiled flag bundle, so a batch-to-batch-stable candidate set
    compiles once; expansion-atom bundles are vocab-dependent and never
    cached."""
    cs = chunk_size or MAX_COMPILE_QUERIES
    if len(queries) > cs:
        _check_distinct_ids(queries)
        cache = _expansion_cache
        if prefilter:
            if term_index is not None:
                queries, cache = _prefilter_candidates_indexed(
                    rel, queries, vocab, term_index, term_index_rows
                )
            else:
                queries, cache = _prefilter_candidates(rel, queries, vocab)
            if not queries:
                return rel.sparkSession.createDataFrame(
                    [], schema=_matches_schema(rel)
                )
        out = None
        for part in _chunks(queries, cs):
            p = percolate_matches(
                rel, part, vocab, prefilter=False,
                compile_cache=compile_cache, _expansion_cache=cache,
            )
            out = p if out is None else out.unionByName(p)
        return out
    bundle = _cached_chunk(
        compile_cache, queries, vocab, (), _expansion_cache
    )
    per_doc, match_of = bundle.per_doc(rel), bundle.match_of
    cols = [
        F.when(m, F.lit(qid)).alias(f"_q{qid}") for qid, m in match_of.items()
    ]
    ids = per_doc.select("doc_id", *cols)
    return (
        ids.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.array(*[F.col(f"_q{qid}") for qid in match_of]),
                    lambda q: q.isNotNull(),
                )
            ).alias("query_id"),
        )
        .select("query_id", "doc_id")
    )


def register_percolator_queries(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    table: str = "sftq_percolator",
    vocab: DataFrame | None = None,
) -> str:
    """Persist a percolator registry as a TABLE (Elasticsearch stores
    percolator queries in an index; Lucene Monitor in a query store) —
    with the validation contract enforced at WRITE time, where a real
    alerting system wants the failure: every query must parse, have a
    positive atom (matchable), use only supported atom kinds, and — when
    a ``vocab`` relation is supplied — its expansion atoms must resolve
    under the ``max_expansions`` cap. A bad stored query rejected at
    percolate time would silently take the whole registry down with it.

    The registry is intentionally small relative to the corpus (thousands
    of queries vs billions of documents); readers collect it to the
    driver to compile the shared-scan plan, the same bounded transfer as
    ES loading stored queries into the percolator's memory index.

    r11 (VERDICT r10 #1): registration ALSO persists the query-term
    index as a sibling ``{table}_terms`` relation (TERM_INDEX_SCHEMA,
    bucketed by term — r12) — the rows _prefilter_candidates_indexed
    joins against the batch's terms, so percolate-time cost is
    proportional to the CANDIDATE slice and the driver parses only
    candidates; the whole registry is parsed exactly once, here, at
    write time.

    Crash-consistency contract (r12, ADVICE r11): the two tables are NOT
    one atomic write, so both carry a shared ``reg_stamp`` column written
    fresh per registration; the TERM INDEX is written FIRST, then the
    registry — a crash between the writes leaves the old registry paired
    with a new-stamped index, which readers detect (stamp mismatch) and
    fall back to the in-memory prefilter instead of silently missing
    alerts off a stale index. See _usable_term_index."""
    import re
    import uuid

    # the name is interpolated into SQL and into the managed-location
    # path below (ADVICE r08): restrict it to a bare safe identifier —
    # a database-qualified name (db.tbl) would compute the wrong
    # warehouse path, and anything else is injectable
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"percolator registry table name {table!r} must be an "
            "unqualified identifier ([A-Za-z_][A-Za-z0-9_]*) — "
            "database-qualified or quoted names are not supported"
        )
    rows = _validate_registry(spark, queries, vocab)
    stamp = uuid.uuid4().hex
    _overwrite_managed_table(
        spark,
        f"{table}_terms",
        spark.createDataFrame(
            [(qid, t, stamp) for qid, t in rows],
            TERM_INDEX_STAMPED_SCHEMA,
        ),
        buckets=TERM_INDEX_BUCKETS,
        bucket_col="term",
    )
    _overwrite_managed_table(
        spark,
        table,
        spark.createDataFrame(
            [(qid, q, stamp) for qid, q in queries],
            f"query_id int, query string, {REG_STAMP_COL} string",
        ),
    )
    return table


def _validate_registry(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None,
) -> list[tuple[int, str | None]]:
    """Write-time registry validation at LINEAR cost (r11): the former
    discipline compiled the whole registry as one empty-relation
    _percolate_compile call, whose per-query flag columns make Catalyst
    analysis superlinear in registry width (the measured 10k knee) —
    prohibitive at the 100k-registry scale registration now targets.
    Every contract the compile enforced is checked directly instead:
    parse + distinct ids + no pure negation + supported atom kinds via
    term_index_rows, expansion atoms rejected without a vocab, and — when
    a vocab is supplied — every expansion atom resolved in ONE bounded
    pass under the fail-loud max_expansions cap. Returns the term-index
    rows the validation pass built, so registration never parses the
    registry twice (r12 — at 1M stored queries the second parse was the
    larger half of the registration wall)."""
    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.index_expand import (
        resolve_expansions_over,
    )

    rows = term_index_rows(queries)
    keys: dict = {}

    def walk(n):
        k = _exp_key_of(n)
        if k is not None:
            keys.setdefault(k, type(n).__name__)
        elif isinstance(n, QL.Not):
            walk(n.child)
        elif isinstance(n, (QL.And, QL.Or)):
            for c in n.children:
                walk(c)

    for _qid, qs in queries:
        walk(QL.parse_query(qs))
    if keys and vocab is None:
        raise ValueError(
            f"percolator supports term/phrase/AND/OR/NOT atoms "
            f"(+ expansion atoms when a vocab relation is supplied), "
            f"got {sorted(keys.values())[0]}"
        )
    if keys:
        resolve_expansions_over(
            vocab.select("term"),
            [(k, _exp_pred(k)) for k in sorted(keys)],
        )
    return rows


def _overwrite_managed_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    buckets: int | None = None,
    bucket_col: str | None = None,
):
    """Overwrite a managed registry table, also adopting a location
    ORPHANED by another session/process (catalog metadata is per-session
    in-memory here, the warehouse directory is not) — saveAsTable refuses
    an existing unowned directory (LOCATION_ALREADY_EXISTS), so drop +
    delete the leftover through the Hadoop FS API (portable to HDFS/S3A).
    ``buckets`` writes the table bucketed+sorted by ``bucket_col`` (the
    build_index posting discipline — r12, for the term index)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    jvm = spark.sparkContext._jvm
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = jvm.org.apache.hadoop.fs.Path(f"{wh}/{name.lower()}")
    fs = loc.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    w = df.write.mode("overwrite")
    if buckets is not None:
        w = w.bucketBy(buckets, bucket_col).sortBy(bucket_col)
    w.saveAsTable(name)


def add_percolator_queries(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    table: str = "sftq_percolator",
    vocab: DataFrame | None = None,
) -> str:
    """Incrementally ADD stored queries to a persisted registry (the
    Elasticsearch register-one-more-percolator-document shape) — without
    rewriting the existing entries. The same write-time contract applies
    to the new batch (parse, matchable, supported atoms, expansion
    resolution under the cap), PLUS a registry-wide id-collision gate:
    an id already stored raises before anything is appended (a silent
    overwrite would silently re-route alerts). One bounded append — the
    sibling ``{table}_terms`` index gets the new batch's rows appended in
    the same call, so the prefilter relation stays consistent (r11; a
    legacy registry without a term index gets one built from the full
    post-add registry).

    r12 (ADVICE r11): the TERM-INDEX rows append FIRST, carrying the
    registry's current ``reg_stamp`` — a crash between the appends
    leaves extra term rows under a matching stamp, which is harmless
    (candidate ids are intersected with the registry), never a query
    present in the registry but missing from the index (the silent-miss
    direction)."""
    new_terms = _validate_registry(spark, queries, vocab)
    main = spark.table(table)
    existing = {int(r.query_id) for r in main.select("query_id").collect()}
    clash = sorted(existing & {qid for qid, _q in queries})
    if clash:
        raise ValueError(
            f"query_id(s) {clash} already registered in {table} — remove "
            "first or use distinct ids"
        )
    stamped = REG_STAMP_COL in main.columns
    stamp = None
    if stamped:
        head = main.select(REG_STAMP_COL).head()
        stamp = head[0] if head is not None else None
    terms_tbl = f"{table}_terms"
    if spark.catalog.tableExists(terms_tbl):
        if REG_STAMP_COL in spark.table(terms_tbl).columns:
            # stamped tables are bucketed (written together since r12);
            # appends must declare the same bucket spec
            (
                spark.createDataFrame(
                    [(qid, t, stamp) for qid, t in new_terms],
                    TERM_INDEX_STAMPED_SCHEMA,
                )
                .write.mode("append")
                .bucketBy(TERM_INDEX_BUCKETS, "term")
                .sortBy("term")
                .saveAsTable(terms_tbl)
            )
        else:
            (
                spark.createDataFrame(new_terms, TERM_INDEX_SCHEMA)
                .write.mode("append")
                .saveAsTable(terms_tbl)
            )
    else:
        full = [
            (int(r.query_id), r.query)
            for r in main.orderBy("query_id").collect()
        ] + list(queries)
        rows = term_index_rows(full)
        if stamped:
            tdf = spark.createDataFrame(
                [(qid, t, stamp) for qid, t in rows],
                TERM_INDEX_STAMPED_SCHEMA,
            )
        else:
            tdf = spark.createDataFrame(rows, TERM_INDEX_SCHEMA)
        _overwrite_managed_table(
            spark, terms_tbl, tdf,
            buckets=TERM_INDEX_BUCKETS, bucket_col="term",
        )
    if stamped:
        mdf = spark.createDataFrame(
            [(qid, q, stamp) for qid, q in queries],
            f"query_id int, query string, {REG_STAMP_COL} string",
        )
    else:
        mdf = spark.createDataFrame(queries, "query_id int, query string")
    mdf.write.mode("append").saveAsTable(table)
    return table


def remove_percolator_queries(
    spark: SparkSession,
    ids: list[int],
    table: str = "sftq_percolator",
) -> int:
    """Remove stored queries by id. The registry is bounded-small (the
    collect-to-compile contract), so removal is a validated rewrite of
    the surviving rows rather than tombstones; an id that is not
    registered raises (a no-op delete usually means an alerting
    misconfiguration). Returns the number removed."""
    import uuid

    rows = [
        (int(r.query_id), r.query)
        for r in spark.table(table).orderBy("query_id").collect()
    ]
    existing = {qid for qid, _q in rows}
    missing = sorted(set(ids) - existing)
    if missing:
        raise ValueError(f"query_id(s) {missing} not registered in {table}")
    keep = [(qid, q) for qid, q in rows if qid not in set(ids)]
    # rewrite order (r12, ADVICE r11): REGISTRY first under a FRESH stamp
    # — a crash before the term-index rewrite leaves mismatched stamps,
    # so readers fall back to the in-memory prefilter instead of serving
    # removed-id candidates off the stale index (harmless either way,
    # but the stamp keeps the pair's consistency observable); both
    # tables upgrade to the stamped schema on rewrite
    stamp = uuid.uuid4().hex
    (
        spark.createDataFrame(
            [(qid, q, stamp) for qid, q in keep],
            f"query_id int, query string, {REG_STAMP_COL} string",
        )
        .write.mode("overwrite")
        .saveAsTable(table)
    )
    _overwrite_managed_table(
        spark,
        f"{table}_terms",
        spark.createDataFrame(
            [(qid, t, stamp) for qid, t in term_index_rows(keep)],
            TERM_INDEX_STAMPED_SCHEMA,
        ),
        buckets=TERM_INDEX_BUCKETS,
        bucket_col="term",
    )
    return len(rows) - len(keep)


def _usable_term_index(
    spark: SparkSession, table: str
) -> tuple[DataFrame | None, int | None]:
    """Read-time consistency guard for the persisted query-term index
    (r12, ADVICE r11): the registry and its ``{table}_terms`` sibling are
    written non-atomically, so before trusting the index for
    prefiltering, verify the pair is consistent — stamped pairs compare
    their shared ``reg_stamp`` (one head() row per table; adds append
    under the same stamp, register/remove rewrite fresh); legacy
    unstamped pairs verify the index's id set COVERS the registry (one
    bounded anti-join count — extra index rows are harmless, a registry
    id missing from the index would be a silently-never-candidate query,
    the exact miss class this guards against). On any mismatch returns
    (None, None) and callers fall back to the in-memory prefilter.
    Otherwise returns the (query_id, term) relation and its row count —
    the count feeds the prefilter's broadcast-side auto-select without a
    per-percolate count job."""
    terms_tbl = f"{table}_terms"
    if not spark.catalog.tableExists(terms_tbl):
        return None, None
    main = spark.table(table)
    ti = spark.table(terms_tbl)
    if REG_STAMP_COL in main.columns and REG_STAMP_COL in ti.columns:
        mh = main.select(REG_STAMP_COL).head()
        th = ti.select(REG_STAMP_COL).head()
        if (mh[0] if mh else None) != (th[0] if th else None):
            return None, None
    else:
        n_missing = (
            main.select("query_id")
            .distinct()
            .join(ti.select("query_id").distinct(), "query_id", "left_anti")
            .count()
        )
        if n_missing:
            return None, None
    sel = ti.select("query_id", "term")
    return sel, sel.count()


def percolate_from_table(
    spark: SparkSession,
    rel: DataFrame,
    table: str = "sftq_percolator",
    vocab: DataFrame | None = None,
    matches: bool = False,
) -> DataFrame:
    """Percolate against a PERSISTED registry table: read the (bounded)
    stored queries back, compile, and run — the summary form by default,
    the (query_id, doc_id) alerting table with ``matches=True``. When the
    registry was written with its ``{table}_terms`` query-term index
    (r11), the prefilter runs through it — one broadcast join,
    candidates-only parse — instead of building driver-side term sets;
    the index is trusted only after the _usable_term_index consistency
    guard (r12, ADVICE r11), and its pinned row count drives the
    prefilter's broadcast-side auto-select.

    r12 candidate-slice FETCH: with a usable index, even the registry
    READBACK is candidate-bounded — the candidate-id relation semi-joins
    the registry table Spark-side and only the matching rows collect, so
    per-percolate driver transfer is proportional to candidates, not
    registry size (measured at the 1M-query registry: the whole-registry
    collect was the dominant per-call cost). Registration enforces
    distinct ids at write time, which is what makes skipping the
    registry-wide driver-side re-check sound here."""
    term_index, ti_rows = _usable_term_index(spark, table)
    fn = percolate_matches if matches else _percolate_bool
    if term_index is None:
        stored = [
            (int(r.query_id), r.query)
            for r in spark.table(table).orderBy("query_id").collect()
        ]
        return fn(rel, stored, vocab=vocab)
    cand_df = _candidate_id_df(rel, term_index, ti_rows)
    survivors = [
        (int(r.query_id), r.query)
        for r in spark.table(table)
        .join(cand_df, "query_id")
        .orderBy("query_id")
        .collect()
    ]
    if not survivors:
        schema = _matches_schema(rel) if matches else _bool_schema(rel)
        return spark.createDataFrame([], schema=schema)
    # already prefiltered: the (bounded) survivor slice compiles directly
    # — at or under MAX_COMPILE_QUERIES that is the plain leaf path, and
    # wider slices chunk without re-prefiltering
    return fn(rel, survivors, vocab=vocab, prefilter=False)


from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402


class _UnpersistOnStop(StreamingQueryListener):
    """StreamingQueryListener that unpersists a cached DataFrame when its
    stream terminates (r12, ADVICE r11): the term index cached at stream
    start would otherwise hold executor storage for the session's
    lifetime across repeated stream starts. Bound to the query's runId
    AFTER start() (the id isn't known earlier); termination events seen
    before bind are buffered so an availableNow stream that finishes
    first still cleans up."""

    def __init__(self, spark: SparkSession, df: DataFrame):
        self._spark = spark
        self._df = df
        self._run_id: str | None = None
        self._seen: set[str] = set()
        self._done = False

    def bind(self, run_id) -> None:
        self._run_id = str(run_id)
        if self._run_id in self._seen:
            self._finish()

    def _finish(self) -> None:
        if self._done:
            return
        self._done = True
        try:
            self._df.unpersist()
        finally:
            try:
                self._spark.streams.removeListener(self)
            except Exception:
                pass  # listener already removed / session torn down

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        rid = str(event.runId)
        if self._run_id is None:
            self._seen.add(rid)
        elif rid == self._run_id:
            self._finish()


def _attach_unpersist(spark: SparkSession, df: DataFrame, query):
    """Register an _UnpersistOnStop for ``query`` (best-effort: a
    listener registry error must not take the alerting stream down —
    the fallback is the pre-r12 behavior, cache lives until session
    end)."""
    try:
        lst = _UnpersistOnStop(spark, df)
        spark.streams.addListener(lst)
        lst.bind(query.runId)
    except Exception:
        pass


def stream_percolate_alerts(
    doc_stream: DataFrame,
    table: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_compile_cache: bool = True,
):
    """The production alerting loop in one call (r9): documents stream
    in; every micro-batch is percolated against the PERSISTED registry
    table and (batch_id, query_id, doc_id) alerts append as
    batch-id-stamped idempotent overwrites (exactly-once under replay).

    Registry refresh contract: stored queries are read and compiled ONCE
    at stream start (the bounded collect — Elasticsearch likewise loads
    percolator queries into a memory index), so
    add/remove_percolator_queries take effect on stream RESTART; already-
    processed documents are not re-percolated against later additions —
    re-stream with a fresh checkpoint to backfill. Expansion atoms
    resolve per batch against the batch's own vocabulary (exact for
    per-document matching).

    r11 (ADVICE r10): the query-term index is materialized ONCE at
    stream start (from the persisted ``{table}_terms`` relation when the
    registry was written with one AND the _usable_term_index consistency
    guard passes — r12, ADVICE r11 — else built here) and CACHED, so
    every micro-batch prefilters via one broadcast join against it — the
    registry is no longer re-parsed, and no isin literal is re-planned,
    per batch. The index row count is pinned once for the prefilter's
    broadcast-side auto-select, and the cache is unpersisted when the
    stream terminates (_UnpersistOnStop).

    r12 (VERDICT r11 #5): each chunk's compiled flag bundle is memoized
    for the stream's lifetime (``compile_cache``) — the candidate set is
    usually stable batch-to-batch, so steady-state batches skip the
    per-chunk Python/Catalyst compile entirely; a batch whose candidates
    differ misses the cache and compiles exactly its new chunks.
    ``use_compile_cache=False`` disables the memo — the measurement/
    debug knob behind SCALE.md r12's with/without table."""
    from sparkfulltextquery_spark.functions.fulltext import positional_postings

    spark = doc_stream.sparkSession
    stored = [
        (int(r.query_id), r.query)
        for r in spark.table(table).orderBy("query_id").collect()
    ]
    if not stored:
        raise ValueError(
            f"percolator registry {table} is empty — register stored "
            "queries before starting the alerting stream"
        )
    _check_distinct_ids(stored)
    ti, ti_rows = _usable_term_index(spark, table)
    if ti is None:
        ti = spark.createDataFrame(
            term_index_rows(stored), TERM_INDEX_SCHEMA
        )
        ti_rows = None
    term_index = ti.cache()
    if ti_rows is None:
        ti_rows = term_index.count()
    compile_cache: dict | None = {} if use_compile_cache else None

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rel = positional_postings(batch_df, id_col, text_col).select(
            "doc_id", "term", "positions"
        )
        vocab = rel.select("term").distinct()
        (
            percolate_matches(
                rel, stored, vocab=vocab,
                term_index=term_index, term_index_rows=ti_rows,
                compile_cache=compile_cache,
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    q = (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _attach_unpersist(spark, term_index, q)
    return q


# stored percolator queries: arbitrary boolean (AND/OR/NOT + phrase)
_PERCOLATE_BOOL_QUERIES = [
    (1, "(spark AND join) AND NOT vector"),
    (2, "vector OR stream"),
    (3, '"data query" AND window'),
    (4, 'batch AND NOT "spark join"'),
    (5, "(merge OR stream) AND spark"),
]

# shared oracle prefix (ADVICE r08: the summary/alerting/scored oracles
# are COMPOSED from this constant instead of string-surgering a formatted
# query — reformatting the base can no longer corrupt the derived forms):
# everything up to and including the per-doc match-flag CTE `m`
_PERCOLATE_M_CTES = f"""
    WITH {_POSTINGS_CTE},
    pos AS (
      SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
      FROM (SELECT doc_id, {_TOK} AS toks FROM documents)
    ),
    flags AS (
      SELECT doc_id,
             max(CASE WHEN term = 'batch'  THEN 1 ELSE 0 END) AS t_batch,
             max(CASE WHEN term = 'join'   THEN 1 ELSE 0 END) AS t_join,
             max(CASE WHEN term = 'merge'  THEN 1 ELSE 0 END) AS t_merge,
             max(CASE WHEN term = 'spark'  THEN 1 ELSE 0 END) AS t_spark,
             max(CASE WHEN term = 'stream' THEN 1 ELSE 0 END) AS t_stream,
             max(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS t_vector,
             max(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS t_window
      FROM tfs GROUP BY doc_id
    ),
    ph_dq AS (
      SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
      WHERE a.term = 'data' AND b.term = 'query' AND b.pos = a.pos + 1
    ),
    ph_sj AS (
      SELECT DISTINCT a.doc_id FROM pos a JOIN pos b USING (doc_id)
      WHERE a.term = 'spark' AND b.term = 'join' AND b.pos = a.pos + 1
    ),
    m AS (
      SELECT f.doc_id,
        CASE WHEN t_spark = 1 AND t_join = 1 AND t_vector = 0
             THEN 1 ELSE 0 END AS m1,
        CASE WHEN t_vector = 1 OR t_stream = 1 THEN 1 ELSE 0 END AS m2,
        CASE WHEN f.doc_id IN (SELECT doc_id FROM ph_dq) AND t_window = 1
             THEN 1 ELSE 0 END AS m3,
        CASE WHEN t_batch = 1 AND f.doc_id NOT IN (SELECT doc_id FROM ph_sj)
             THEN 1 ELSE 0 END AS m4,
        CASE WHEN (t_merge = 1 OR t_stream = 1) AND t_spark = 1
             THEN 1 ELSE 0 END AS m5
      FROM flags f
    )"""

_PERCOLATE_BOOL_ORACLE = f"""{_PERCOLATE_M_CTES},
    agg AS (
      SELECT 1 AS query_id, cast(sum(m1) AS bigint) AS n_docs,
             min(CASE WHEN m1 = 1 THEN doc_id END) AS first_doc FROM m
      UNION ALL
      SELECT 2, cast(sum(m2) AS bigint),
             min(CASE WHEN m2 = 1 THEN doc_id END) FROM m
      UNION ALL
      SELECT 3, cast(sum(m3) AS bigint),
             min(CASE WHEN m3 = 1 THEN doc_id END) FROM m
      UNION ALL
      SELECT 4, cast(sum(m4) AS bigint),
             min(CASE WHEN m4 = 1 THEN doc_id END) FROM m
      UNION ALL
      SELECT 5, cast(sum(m5) AS bigint),
             min(CASE WHEN m5 = 1 THEN doc_id END) FROM m
    )
    SELECT query_id, n_docs, first_doc FROM agg
    WHERE n_docs > 0 ORDER BY query_id
    """

# the alerting form's oracle shares every CTE up to `m` with the summary
# form; only the final projection differs ((query_id, doc_id) rows)
_PERCOLATE_ALERTS_ORACLE = (
    _PERCOLATE_M_CTES
    + """
    SELECT query_id, doc_id FROM (
      SELECT 1 AS query_id, doc_id FROM m WHERE m1 = 1
      UNION ALL SELECT 2, doc_id FROM m WHERE m2 = 1
      UNION ALL SELECT 3, doc_id FROM m WHERE m3 = 1
      UNION ALL SELECT 4, doc_id FROM m WHERE m4 = 1
      UNION ALL SELECT 5, doc_id FROM m WHERE m5 = 1
    ) ORDER BY query_id, doc_id
    """
)


@query("fulltext_percolate_alerts", oracle=_PERCOLATE_ALERTS_ORACLE)
def fulltext_percolate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALERTING form of boolean percolation (r8): the full (query_id,
    doc_id) match table — what a saved-search sink consumes — from the
    same one-scan flag compilation; the per-query indicator columns
    unpivot to rows instead of aggregating to summaries."""
    d = load_table(spark, sf_dir, "documents")
    rel = FT.positional_postings(d).select("doc_id", "term", "positions")
    return percolate_matches(rel, _PERCOLATE_BOOL_QUERIES).orderBy(
        "query_id", "doc_id"
    )


@query("fulltext_percolate_alerts_indexed", oracle=_PERCOLATE_ALERTS_ORACLE)
def fulltext_percolate_alerts_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Alerting percolation off the PERSISTED index — with the registry
    read back from a persisted query TABLE (register_percolator_queries →
    percolate_from_table): stored queries validated at write time, the
    posting scan bucket-pruned to their term union, matches unpivoted to
    (query_id, doc_id) rows. The full production alerting path."""
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    table = register_percolator_queries(
        spark, _PERCOLATE_BOOL_QUERIES, table=f"{prefix}_percolator"
    )
    rel = spark.table(f"{prefix}_postings").select("doc_id", "term", "positions")
    return percolate_from_table(spark, rel, table=table, matches=True).orderBy(
        "query_id", "doc_id"
    )


@query("fulltext_percolate_bool", oracle=_PERCOLATE_BOOL_ORACLE)
def fulltext_percolate_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean percolation (r8): the stored-query registry holds ARBITRARY
    boolean queries — AND/OR/NOT compositions over term and exact-phrase
    atoms — matched against every document in ONE shared positional
    posting scan; per-query match expressions fold into a single doc_id
    aggregation (the search_indexed flag machinery, N queries wide), then
    one global aggregation emits every query's match count and first
    matching doc together. No join, no per-query corpus scan."""
    d = load_table(spark, sf_dir, "documents")
    rel = FT.positional_postings(d).select("doc_id", "term", "positions")
    return _percolate_bool(rel, _PERCOLATE_BOOL_QUERIES)


@query("fulltext_percolate_bool_indexed", oracle=_PERCOLATE_BOOL_ORACLE)
def fulltext_percolate_bool_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean percolation off the PERSISTED index: the stored queries'
    union of terms prunes the posting scan to their buckets
    (SelectedBucketsCount); stored position arrays serve the phrase atoms
    directly — the corpus is never re-tokenized. Same one-scan zero-join
    flag compilation as the inline twin."""
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    rel = spark.table(f"{prefix}_postings").select("doc_id", "term", "positions")
    return _percolate_bool(rel, _PERCOLATE_BOOL_QUERIES)


# stored percolator queries with EXPANSION atoms (r8): prefix, fuzzy,
# range, wildcard, regex — resolved to concrete terms at registration
_PERCOLATE_EXP_QUERIES = [
    (1, "quer* AND spark"),
    (2, "sparc~1 AND NOT vector"),
    (3, "[batch TO data] AND join"),
    (4, "s?ark OR /qu.ry/"),
]

_PERCOLATE_EXP_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    flags AS (
      SELECT doc_id,
             max(CASE WHEN term LIKE 'quer%' THEN 1 ELSE 0 END) AS e_pfx,
             max(CASE WHEN levenshtein(term, 'sparc') <= 1
                 THEN 1 ELSE 0 END) AS e_fz,
             max(CASE WHEN term BETWEEN 'batch' AND 'data'
                 THEN 1 ELSE 0 END) AS e_rg,
             max(CASE WHEN term LIKE 's_ark' THEN 1 ELSE 0 END) AS e_wd,
             max(CASE WHEN regexp_matches(term, '^(qu.ry)$')
                 THEN 1 ELSE 0 END) AS e_rx,
             max(CASE WHEN term = 'spark'  THEN 1 ELSE 0 END) AS t_spark,
             max(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS t_vector,
             max(CASE WHEN term = 'join'   THEN 1 ELSE 0 END) AS t_join
      FROM tfs GROUP BY doc_id
    ),
    m AS (
      SELECT doc_id,
        CASE WHEN e_pfx = 1 AND t_spark = 1 THEN 1 ELSE 0 END AS m1,
        CASE WHEN e_fz = 1 AND t_vector = 0 THEN 1 ELSE 0 END AS m2,
        CASE WHEN e_rg = 1 AND t_join = 1 THEN 1 ELSE 0 END AS m3,
        CASE WHEN e_wd = 1 OR e_rx = 1 THEN 1 ELSE 0 END AS m4
      FROM flags
    ),
    agg AS (
      SELECT 1 AS query_id, cast(sum(m1) AS bigint) AS n_docs,
             min(CASE WHEN m1 = 1 THEN doc_id END) AS first_doc FROM m
      UNION ALL
      SELECT 2, cast(sum(m2) AS bigint),
             min(CASE WHEN m2 = 1 THEN doc_id END) FROM m
      UNION ALL
      SELECT 3, cast(sum(m3) AS bigint),
             min(CASE WHEN m3 = 1 THEN doc_id END) FROM m
      UNION ALL
      SELECT 4, cast(sum(m4) AS bigint),
             min(CASE WHEN m4 = 1 THEN doc_id END) FROM m
    )
    SELECT query_id, n_docs, first_doc FROM agg
    WHERE n_docs > 0 ORDER BY query_id
    """


@query("fulltext_percolate_expansion", oracle=_PERCOLATE_EXP_ORACLE)
def fulltext_percolate_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation with EXPANSION atoms in the stored queries (r8): each
    prefix/fuzzy/range/wildcard/regex atom resolves to concrete
    vocabulary terms at registration time (the same bounded one-pass
    dictionary protocol as indexed search — here over the corpus-derived
    distinct-term relation), so the shared scan stays an equality isin
    and matching stays one doc_id aggregation. No join, no per-query
    corpus scan, no expansion predicate on the posting relation."""
    d = load_table(spark, sf_dir, "documents")
    rel = FT.positional_postings(d).select("doc_id", "term", "positions")
    vocab = rel.select("term").distinct()
    return _percolate_bool(rel, _PERCOLATE_EXP_QUERIES, vocab=vocab)


@query("fulltext_percolate_expansion_indexed", oracle=_PERCOLATE_EXP_ORACLE)
def fulltext_percolate_expansion_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expansion-atom percolation off the PERSISTED index: atoms resolve
    against the df term dictionary (O(|vocab|) rows), the resolved union
    prunes the posting scan to its buckets, stored positions are on hand
    if phrases join the registry — the corpus is never touched."""
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    rel = spark.table(f"{prefix}_postings").select("doc_id", "term", "positions")
    vocab = spark.table(f"{prefix}_df").select("term")
    return _percolate_bool(rel, _PERCOLATE_EXP_QUERIES, vocab=vocab)


@query("fulltext_percolate_indexed", oracle=_PERCOLATE_ORACLE)
def fulltext_percolate_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation off the PERSISTED index: the stored queries' union of
    terms prunes the posting scan to their buckets (SelectedBucketsCount)
    — the corpus is never re-tokenized; the rest is the same broadcast
    query-table aggregation."""
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in _PERCOLATE_QUERIES for t in terms],
        "query_id int, term string",
    )
    qsize = q.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_req"))
    all_terms = sorted({t for _qid, terms in _PERCOLATE_QUERIES for t in terms})
    post = spark.table(f"{prefix}_postings").filter(F.col("term").isin(all_terms))
    hit = (
        post.join(F.broadcast(q), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        hit.join(F.broadcast(qsize), "query_id")
        .filter(F.col("n_matched") == F.col("n_req"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .orderBy("query_id")
    )


def percolate_scored(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    n_docs: int,
    avgdl: float,
    df_of: dict,
    vocab: DataFrame | None = None,
    k: int | None = 3,
    chunk_size: int | None = None,
    prefilter: bool = True,
    term_index: DataFrame | None = None,
    term_index_rows: int | None = None,
    compile_cache: dict | None = None,
    _expansion_cache: dict | None = None,
) -> DataFrame:
    """Ranked percolation (the Elasticsearch percolate-with-scoring
    surface): every (stored query, matching document) pair carries the
    SAME Lucene BM25 score the search paths compute — idf over the full
    corpus from driver literals, tf and the denormalized dl off the
    posting row — and each query keeps its top-k docs. The per-term BM25
    contributions fold into the SAME one-scan doc_id aggregation as the
    match flags (``extra_aggs``); per-query scores are sums of their
    positive terms' columns, so the whole thing stays scan + agg +
    window, no join. Expansion atoms match constant-score (no idf
    contribution), exactly like search_indexed.

    ``rel`` must expose (doc_id, term, positions, tf, dl). Registries
    wider than ``chunk_size`` (default MAX_COMPILE_QUERIES) chunk into
    bounded compiles whose top-k outputs union — per-query top-k is
    independent across queries, so chunking is exact."""
    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.fulltext import BM25_B, BM25_K1
    from pyspark.sql import Window

    cs = chunk_size or MAX_COMPILE_QUERIES
    if len(queries) > cs:
        _check_distinct_ids(queries)
        cache = _expansion_cache
        if prefilter:
            # same query-term-index prefilter as percolate_matches (r10):
            # zero-overlap queries cannot match, so they cannot place docs
            # in their (per-query, independent) top-k either
            if term_index is not None:
                queries, cache = _prefilter_candidates_indexed(
                    rel, queries, vocab, term_index, term_index_rows
                )
            else:
                queries, cache = _prefilter_candidates(rel, queries, vocab)
            if not queries:
                from pyspark.sql.types import (
                    DoubleType,
                    IntegerType,
                    StructField,
                    StructType,
                )

                return rel.sparkSession.createDataFrame(
                    [],
                    StructType(
                        [
                            StructField("query_id", IntegerType()),
                            StructField(
                                "doc_id", rel.schema["doc_id"].dataType
                            ),
                            StructField("score", DoubleType()),
                        ]
                    ),
                )
        out = None
        for part in _chunks(queries, cs):
            p = percolate_scored(
                rel, part, n_docs, avgdl, df_of, vocab, k,
                prefilter=False, compile_cache=compile_cache,
                _expansion_cache=cache,
            )
            out = p if out is None else out.unionByName(p)
        return out.orderBy("query_id", F.col("score").desc(), "doc_id")

    pos_of = {
        qid: sorted(set(QL.positive_terms(QL.parse_query(q))))
        for qid, q in queries
    }
    union_pos = sorted({t for ts in pos_of.values() for t in ts})
    bcol = {t: f"_b{i}" for i, t in enumerate(union_pos)}

    def tscore(t):
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.lit(float(df_of[t])) + F.lit(0.5))
            / (F.lit(float(df_of[t])) + F.lit(0.5))
        )
        return idf * (
            (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
            )
        )

    extra = tuple(
        F.sum(F.when(F.col("term") == t, tscore(t))).alias(c)
        for t, c in bcol.items()
    )
    # the literal signature keys the cache alongside the chunk: the same
    # stored queries scored under refreshed corpus stats must recompile
    lit_key = (n_docs, avgdl, tuple(sorted(df_of.items())))
    bundle = _cached_chunk(
        compile_cache, queries, vocab, extra, _expansion_cache,
        key_extra=lit_key,
    )
    per_doc, match_of = bundle.per_doc(rel), bundle.match_of

    def qscore(qid):
        terms = pos_of[qid]
        if not terms:
            return F.lit(0.0)
        s = F.lit(0.0)
        for t in terms:
            s = s + F.coalesce(F.col(bcol[t]), F.lit(0.0))
        return F.round(s, 4)

    # alias prefix must not collide with the compile's internal columns
    # (_t/_e/_s/_b): Spark 4 lateral alias resolution would otherwise bind
    # a phrase slot reference (_s0...) to a same-named output alias here
    scored = per_doc.select(
        "doc_id",
        *[
            F.when(m, qscore(qid)).alias(f"_qs{qid}")
            for qid, m in match_of.items()
        ],
    )
    stack_args = ", ".join(f"{qid}, _qs{qid}" for qid in match_of)
    rows = scored.select(
        "doc_id",
        F.expr(f"stack({len(match_of)}, {stack_args}) as (query_id, score)"),
    ).filter(F.col("score").isNotNull())
    if k is None:
        # every scored match, no top-k cut — the streaming form needs this:
        # per-query top-k is the ONLY cross-document step, so the stream
        # emits all matches and the cut happens over the alert log at read
        # time (read_scored_alerts)
        return rows.select("query_id", "doc_id", "score")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
        .orderBy("query_id", "rn")
    )


_PERCOLATE_SCORED_ORACLE = (
    _PERCOLATE_M_CTES
    + """,
    dl AS (SELECT doc_id, len({tok}) AS dl FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    dfreq AS (
      SELECT term, count(*) AS df FROM tfs
      WHERE term IN ('batch','data','join','merge','query','spark',
                     'stream','vector','window')
      GROUP BY term
    ),
    ts AS (
      SELECT t.doc_id, t.term,
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
      FROM tfs t JOIN dfreq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    tsp AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN term = 'batch'  THEN s END), 0) AS b_batch,
             coalesce(sum(CASE WHEN term = 'data'   THEN s END), 0) AS b_data,
             coalesce(sum(CASE WHEN term = 'join'   THEN s END), 0) AS b_join,
             coalesce(sum(CASE WHEN term = 'merge'  THEN s END), 0) AS b_merge,
             coalesce(sum(CASE WHEN term = 'query'  THEN s END), 0) AS b_query,
             coalesce(sum(CASE WHEN term = 'spark'  THEN s END), 0) AS b_spark,
             coalesce(sum(CASE WHEN term = 'stream' THEN s END), 0) AS b_stream,
             coalesce(sum(CASE WHEN term = 'vector' THEN s END), 0) AS b_vector,
             coalesce(sum(CASE WHEN term = 'window' THEN s END), 0) AS b_window
      FROM ts GROUP BY doc_id
    ),
    j AS (
      SELECT m.*, coalesce(b_batch, 0) AS b_batch, coalesce(b_data, 0) AS b_data,
             coalesce(b_join, 0) AS b_join, coalesce(b_merge, 0) AS b_merge,
             coalesce(b_query, 0) AS b_query, coalesce(b_spark, 0) AS b_spark,
             coalesce(b_stream, 0) AS b_stream, coalesce(b_vector, 0) AS b_vector,
             coalesce(b_window, 0) AS b_window
      FROM m LEFT JOIN tsp USING (doc_id)
    ),
    alerts AS (
      SELECT 1 AS query_id, doc_id, round(b_join + b_spark, 4) AS score
      FROM j WHERE m1 = 1
      UNION ALL SELECT 2, doc_id, round(b_stream + b_vector, 4)
      FROM j WHERE m2 = 1
      UNION ALL SELECT 3, doc_id, round(b_data + b_query + b_window, 4)
      FROM j WHERE m3 = 1
      UNION ALL SELECT 4, doc_id, round(b_batch, 4) FROM j WHERE m4 = 1
      UNION ALL SELECT 5, doc_id, round(b_merge + b_spark + b_stream, 4)
      FROM j WHERE m5 = 1
    ),
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rn
      FROM alerts
    )
    SELECT query_id, doc_id, score FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """.replace("{tok}", _TOK)
)


@query("fulltext_percolate_scored", oracle=_PERCOLATE_SCORED_ORACLE)
def fulltext_percolate_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked percolation, inline: the stored boolean registry matched and
    BM25-SCORED against the corpus-derived positional postings (dl
    denormalized onto each posting row, the same layout the persisted
    index stores); per-query top-3 docs."""
    from sparkfulltextquery_spark.functions.fulltext import doc_lengths

    d = load_table(spark, sf_dir, "documents")
    rel = FT.positional_postings(d).join(doc_lengths(d), "doc_id").select(
        "doc_id", "term", "positions", "tf", "dl"
    )
    from sparkfulltextquery_spark.functions import querylang as QL

    union_pos = sorted(
        {
            t
            for _qid, q in _PERCOLATE_BOOL_QUERIES
            for t in QL.positive_terms(QL.parse_query(q))
        }
    )
    dls = doc_lengths(d)
    st = dls.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).head()
    dfr = {
        r.term: int(r.df)
        for r in FT.postings(d)
        .filter(F.col("term").isin(union_pos))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    df_of = {t: dfr.get(t, 0) for t in union_pos}
    return percolate_scored(
        rel, _PERCOLATE_BOOL_QUERIES, int(st.n), float(st.avgdl), df_of, k=3
    )


@query("fulltext_percolate_scored_indexed", oracle=_PERCOLATE_SCORED_ORACLE)
def fulltext_percolate_scored_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ranked percolation off the PERSISTED index: tf and dl come off the
    bucket-pruned posting rows, idf/n_docs/avgdl fold in as driver
    literals from the stats/df tables — scan + one aggregation + one
    window, no join, corpus never touched."""
    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.index import (
        _df_stats_literals,
        _force_bucketed_scan,
    )

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    rel = spark.table(f"{prefix}_postings").select(
        "doc_id", "term", "positions", "tf", "dl"
    )
    union_pos = sorted(
        {
            t
            for _qid, q in _PERCOLATE_BOOL_QUERIES
            for t in QL.positive_terms(QL.parse_query(q))
        }
    )
    n_docs, avgdl, df_of = _df_stats_literals(spark, prefix, union_pos)
    return percolate_scored(
        rel, _PERCOLATE_BOOL_QUERIES, n_docs, avgdl, df_of, k=3
    )


# ---------------- streaming ranked percolation (r9, VERDICT r08 #5) ------


def stream_percolate_scored(
    doc_stream: DataFrame,
    queries: list[tuple[int, str]],
    n_docs: int,
    avgdl: float,
    df_of: dict,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming RANKED percolation: each micro-batch's documents are
    matched against the stored boolean registry and every match is
    BM25-scored; the (batch_id, query_id, doc_id, score) alerts append to
    a log as batch-id-stamped idempotent overwrites (exactly-once under
    replay, same discipline as stream_update_postings).

    STALENESS CONTRACT: idf / n_docs / avgdl are PINNED AT REGISTRATION —
    the caller passes corpus statistics captured when the registry was
    registered (from the persisted index's stats/df tables or a reference
    corpus), and every streamed document scores against THOSE literals.
    This is the Elasticsearch-percolator discipline (stored queries score
    with index-time statistics) and what makes streaming exact: tf and dl
    are per-document (computed from the batch row itself), so per-batch
    scoring equals batch scoring over the union; refresh the literals by
    re-registering. The per-query GLOBAL top-k is the one cross-document
    step, so the stream emits ALL scored matches (k=None) and the cut
    runs over the alert log at read time — ``read_scored_alerts``.

    Expansion atoms resolve per batch against the batch's own vocabulary,
    which is exact for per-document matching (a pattern atom matches doc
    d iff d itself contains a matching term, and the batch vocabulary
    contains every term of every doc in the batch).

    r11: the query-term index is built and cached ONCE here, so chunked
    registries prefilter each micro-batch via one broadcast join instead
    of a per-batch registry parse. r12: the index row count is pinned for
    the broadcast-side auto-select, compiled chunk bundles are memoized
    across batches (compile_cache — sound here because the BM25 literals
    are pinned at registration and fold into the cache key), and the
    cached index unpersists at stream termination."""
    from sparkfulltextquery_spark.functions.fulltext import (
        doc_lengths,
        positional_postings,
    )

    spark = doc_stream.sparkSession
    term_index = spark.createDataFrame(
        term_index_rows(queries), TERM_INDEX_SCHEMA
    ).cache()
    ti_rows = term_index.count()
    compile_cache: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rel = (
            positional_postings(batch_df, id_col, text_col)
            .join(doc_lengths(batch_df, id_col, text_col), "doc_id")
            .select("doc_id", "term", "positions", "tf", "dl")
        )
        vocab = rel.select("term").distinct()
        (
            percolate_scored(
                rel, queries, n_docs, avgdl, df_of, vocab=vocab, k=None,
                term_index=term_index, term_index_rows=ti_rows,
                compile_cache=compile_cache,
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    q = (
        doc_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _attach_unpersist(spark, term_index, q)
    return q


def read_scored_alerts(spark: SparkSession, out_dir: str, k: int = 3) -> DataFrame:
    """Per-query top-k over the streamed scored-alert log — the read-time
    half of stream_percolate_scored (top-k is the only cross-document
    step, so it runs here, over all batches' matches)."""
    from pyspark.sql import Window

    rows = spark.read.parquet(out_dir).select("query_id", "doc_id", "score")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
        .orderBy("query_id", "rn")
    )


@query("fulltext_percolate_scored_stream", oracle=_PERCOLATE_SCORED_ORACLE)
def fulltext_percolate_scored_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ranked percolation executed as a STREAM (the saved-search alerting
    deployment shape): documents flow through a file-source stream in
    micro-batches, each batch is matched + BM25-scored against the stored
    registry with corpus statistics pinned at registration (read from the
    persisted index's stats/df tables), scored alerts land in a log, and
    the per-query top-3 over the log must equal the batch oracle exactly
    — Structured Streaming's batch-equivalence contract, for percolation.
    Fresh out/checkpoint dirs per invocation keep the row deterministic."""
    import shutil

    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.index import _df_stats_literals
    from sparkfulltextquery_spark.storage import index_store_root

    prefix = _ensure_index(spark, sf_dir)
    union_pos = sorted(
        {
            t
            for _qid, q in _PERCOLATE_BOOL_QUERIES
            for t in QL.positive_terms(QL.parse_query(q))
        }
    )
    n_docs, avgdl, df_of = _df_stats_literals(spark, prefix, union_pos)

    root = index_store_root("perc_stream", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    out, ck, src = f"{root}/alerts", f"{root}/ck", f"{root}/src"

    # stage the corpus as THREE source files so the stream really runs
    # multi-batch (maxFilesPerTrigger=1 → one micro-batch per file)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    splits = docs.randomSplit([1.0, 1.0, 1.0], seed=7)
    for part in splits:
        part.coalesce(1).write.mode("append").parquet(f"file://{src}")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"file://{src}")
    )
    q = stream_percolate_scored(
        stream, _PERCOLATE_BOOL_QUERIES, n_docs, avgdl, df_of,
        f"file://{out}", f"file://{ck}",
    )
    q.awaitTermination()
    return read_scored_alerts(spark, f"file://{out}", k=3)
