"""Percolation / reverse search: the Elasticsearch percolator / Lucene
Monitor surface. Search runs tokenize → index → score; percolation runs
it in reverse, matching stored queries against incoming documents.

Every boolean form (summary, alerting and BM25-ranked, over inline,
indexed or streamed postings) runs through one driver, ``_percolate``:
registry-wide id check, one query-term-index prefilter, chunked
compiles through querylang's shared-scan compiler, union. The forms
differ only in the per-chunk output they build. The conjunctive form
(``fulltext_percolate``) is the broadcast-join aggregation instead.
"""

from __future__ import annotations

import re
import uuid
from functools import partial, reduce

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
from sparkfulltextquery_spark.sources.tables import drop_managed_table


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
    return _percolate_conjunctive(FT.postings(d))


def _percolate_conjunctive(post: DataFrame) -> DataFrame:
    """_PERCOLATE_QUERIES over a (doc_id, term) posting relation: the
    stored-query term table broadcasts into ``post``, one (doc, query)
    aggregation counts the matched terms, and a query matches a doc where
    that count equals the query's term count."""
    q = post.sparkSession.createDataFrame(
        [(qid, t) for qid, terms in _PERCOLATE_QUERIES for t in terms],
        "query_id int, term string",
    )
    qsize = q.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_req"))
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


from sparkfulltextquery_spark.functions import querylang as QL  # noqa: E402


def _parse_stored(qid: int, qs: str):
    """Parse a stored query, rejecting one satisfiable by the EMPTY
    document (pure negation): it would match every document outside the
    pruned scan, which a one-scan percolator cannot see."""
    ast = QL.parse_query(qs)
    if QL._eval_empty(ast):
        raise ValueError(
            f"stored percolator query {qid} ({qs!r}) is satisfiable by "
            "the empty document (pure negation) — percolator queries "
            "need at least one positive atom"
        )
    return ast


_EXPAND_LABELS = {
    "prefix": ("Prefix", "FieldPrefix"),
    "wild": ("Wildcard", "FieldWildcard"),
    "fuzzy": ("Fuzzy", "FieldFuzzy"),
    "regex": ("Regex", None),
    "range": ("TermRange", "FieldRange"),
}


def _atom_label(a) -> str:
    """The grammar's name for an atom kind, as the percolator's rejection
    message prints it."""
    if isinstance(a, QL.Expand):
        return _EXPAND_LABELS[a.kind][a.field is not None]
    if isinstance(a, QL.Phrase):
        return "PhrasePrefix" if a.prefix is not None else "FieldPhrase"
    return "Field" if isinstance(a, QL.Term) else type(a).__name__


def _stored_atoms(ast, expansions_ok: bool = True):
    """(atom, positive polarity) for every atom of a stored query — the
    one walk behind registration, the term index, the prefilter and the
    compiler. The percolator's atom subset is unscoped terms and phrases,
    plus unscoped expansion atoms when ``expansions_ok`` (a vocab relation
    to resolve them against); any other atom fails loudly."""
    for a, nots in QL.atoms(ast):
        ok = getattr(a, "field", None) is None and (
            isinstance(a, QL.Term)
            or (isinstance(a, QL.Phrase) and a.prefix is None)
            or (isinstance(a, QL.Expand) and expansions_ok)
        )
        if not ok:
            raise ValueError(
                f"percolator supports term/phrase/AND/OR/NOT atoms "
                f"(+ expansion atoms when a vocab relation is supplied), "
                f"got {_atom_label(a)}"
            )
        yield a, nots % 2 == 0


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


def _expansion_keys(asts, vocab: DataFrame | None) -> set:
    """The keys of every expansion atom (both polarities: the compile
    needs every atom's term list) of the parsed stored queries ``asts``."""
    return {
        a.key
        for ast in asts
        for a, _positive in _stored_atoms(ast, vocab is not None)
        if isinstance(a, QL.Expand)
    }


def _resolve_expansions(keys: set, vocab: DataFrame | None) -> dict:
    """{key: vocabulary terms} for expansion ``keys`` — one bounded pass
    over ``vocab`` under the fail-loud ``max_expansions`` cap."""
    if not keys:
        return {}
    from sparkfulltextquery_spark.functions.index import resolve_expansions_over

    return resolve_expansions_over(vocab.select("term"), keys)


#: Schema of an in-memory (ad-hoc or stream) query-term index; the
#: persisted ``{table}_terms`` adds REG_STAMP_COL. One row per
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

#: Registration stamp column: registry + term index are two tables
#: written non-atomically; a stamp shared by every row of both lets
#: readers detect a crash between the writes (stamp mismatch → fall back
#: to an index built from the registry itself) instead of prefiltering
#: off a stale index and silently missing alerts.
REG_STAMP_COL = "reg_stamp"

TERM_INDEX_STAMPED_SCHEMA = (
    f"query_id int, term string, {REG_STAMP_COL} string"
)


def term_index_rows(
    queries: list[tuple[int, str]]
) -> list[tuple[int, str | None]]:
    """Build the rows of the percolator's query-term index (the
    Elasticsearch percolator keeps exactly this: an inverted index over
    the stored queries' extracted terms): for each stored query, one
    (query_id, term) row per positive-polarity concrete term (plain terms
    + phrase tokens), plus one (query_id, NULL) row when the query carries
    a positive expansion atom (see TERM_INDEX_SCHEMA). Registration
    persists these rows; an ad-hoc registry's prefilter and both alerting
    streams build them on the fly. Enforces the registration contract
    while it parses — distinct ids, no pure negation, supported atom
    kinds only.

    Soundness of prefiltering on these rows: registration rejects queries
    satisfiable by the EMPTY document, and over the AND/OR/NOT grammar
    evaluation is monotone per literal polarity — turning on a term that
    occurs only under an odd number of NOTs can never flip a query from
    false to true. So a document sharing none of a query's positive
    concrete terms evaluates ≤ the empty document = false, unless the
    query has a positive expansion atom, whose reach is vocab-dependent
    (hence always-candidate: a conservative superset, never a miss). A
    term occurring at both parities counts as positive. A pure-negation
    query has no positive atom and would otherwise be silently never a
    candidate, so it raises here — the same error the compile raises."""
    _check_distinct_ids(queries)
    rows: list[tuple[int, str | None]] = []
    for qid, qs in queries:
        terms: set = set()
        has_pos_exp = False
        for a, positive in _stored_atoms(_parse_stored(qid, qs)):
            if positive and isinstance(a, QL.Expand):
                has_pos_exp = True
            elif positive:
                terms.update(QL.atom_terms(a))
        rows.extend((qid, t) for t in sorted(terms))
        if has_pos_exp or not terms:
            # not terms: defensive — _eval_empty guarantees a positive
            # atom exists, so an empty term set implies an expansion atom,
            # but an always-candidate row can never cause a missed alert
            rows.append((qid, None))
    return rows


def _adhoc_term_index(
    spark: SparkSession, queries: list[tuple[int, str]]
) -> tuple[DataFrame, int]:
    """The query-term index of an unregistered registry, as a relation
    with its row count."""
    rows = term_index_rows(queries)
    return spark.createDataFrame(rows, TERM_INDEX_SCHEMA), len(rows)


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
    """The one percolator prefilter: candidate query ids come from ONE
    broadcast hash join of the query-term index against the batch's
    posting terms — no driver-side per-query term sets, no isin literal,
    and the driver parses ONLY the candidate slice. NULL-term rows
    (positive expansion atoms) are unconditional candidates. The collect
    is bounded by the number of DISTINCT candidate ids ≤ registry size,
    typically the small matching slice. Returns (surviving queries in
    original order, expansion cache for the chunk compiles — resolved
    once over the survivors).

    Build-side auto-select (r12, VERDICT r11 #1): up to
    PREFILTER_INDEX_BROADCAST_MAX_ROWS index rows the index is the
    broadcast side (one hash join streamed over the batch); past it —
    the 1M-stored-query regime — the BATCH's distinct terms broadcast
    into a join streamed over the (term-bucketed) persisted index, so
    the shipped side is bounded by batch vocabulary, not registry size.
    ``term_index_rows`` lets callers that know the count (streams, table
    readers, ad-hoc builds) skip a count job per percolate."""
    cand_df = _candidate_id_df(rel, term_index, term_index_rows)
    cand = {int(r.query_id) for r in cand_df.collect()}
    survivors = [q for q in queries if q[0] in cand]
    asts = [_parse_stored(qid, qs) for qid, qs in survivors]
    return survivors, _resolve_expansions(_expansion_keys(asts, vocab), vocab)


def _chunks(queries, chunk_size: int):
    return [
        queries[i : i + chunk_size] for i in range(0, len(queries), chunk_size)
    ]


def _cached_chunk(
    compile_cache: dict | None,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None,
    expansion_cache: dict | None,
) -> QL.CompiledChunk:
    """Memoized chunk compile (r12, VERDICT r11 #5): the bundle is keyed
    by the chunk's exact (qid, query) tuple, so a hit is definitionally
    the same registry slice — and the bundle's Columns are unbound, so it
    re-applies to every batch's posting relation. Bundles with expansion
    atoms resolve against each batch's vocabulary and are never cached
    (``vocab_dependent``). Score aggregates are not part of the bundle:
    the scored form passes them to ``per_doc`` on every call."""
    key = tuple(queries)
    if compile_cache is not None:
        hit = compile_cache.get(key)
        if hit is not None:
            return hit
    bundle = _compile_chunk(queries, vocab, expansion_cache)
    if compile_cache is not None and not bundle.vocab_dependent:
        compile_cache[key] = bundle
    return bundle


def _compile_chunk(
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    expansion_cache: dict | None = None,
) -> QL.CompiledChunk:
    """Boolean-query percolation core (r8, VERDICT r07 #3): compile a
    chunk of stored ARBITRARY boolean queries (AND/OR/NOT + term + phrase
    atoms, the querylang grammar) through querylang.compile_queries — the
    compiler search and search_indexed use — against ONE shared scan of a
    positional posting relation: per-query match expressions fold as
    columns into a single doc_id aggregation, with the flag and slot
    columns shared across the stored queries. No join, no per-query
    corpus scan.

    Contract: every stored query must have at least one positive atom
    (``_eval_empty`` false) — a query satisfiable by the EMPTY document
    (pure negation) would match every document outside the pruned scan,
    which a one-scan percolator cannot see; registration fails loudly.
    This matches the Elasticsearch percolator's requirement that stored
    queries be matchable. Field, NEAR and phrase-prefix atoms are
    rejected loudly too.

    Expansion atoms (prefix/fuzzy/range/regex/wildcard) are supported
    when a ``vocab`` relation is supplied (r8): each atom resolves to
    concrete vocabulary terms through the same bounded one-aggregation
    protocol as indexed search (``resolve_expansions_over``, fail-loud
    ``max_expansions`` cap), so the shared scan stays an equality
    ``isin`` — from ``expansion_cache`` when the prefilter already
    resolved the registry, else here. Without ``vocab``, expansion atoms
    are rejected loudly.

    ``rel`` must expose (doc_id, term, positions); the scored form folds
    per-term BM25 contributions into the SAME doc_id aggregation through
    ``per_doc``'s extra aggregates (they may reference rel's tf/dl)."""
    asts = {qid: _parse_stored(qid, qs) for qid, qs in queries}
    keys = _expansion_keys(asts.values(), vocab)
    if expansion_cache is None:
        expansion = _resolve_expansions(keys, vocab)
    else:
        expansion = {k: expansion_cache.get(k, []) for k in keys}
    return QL.compile_queries(asts, expansion)


def _percolate(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    emit,
    schema: str,
    *,
    vocab: DataFrame | None,
    chunk_size: int | None,
    prefilter: bool,
    term_index: DataFrame | None,
    term_index_rows: int | None,
    compile_cache: dict | None,
) -> DataFrame:
    """The one percolation driver: search's scan → match → aggregate run
    with the stored queries as the fixed side and ``rel`` (a positional
    posting relation: inline, the persisted index, or a micro-batch) as
    the moving one. Matching is per-(query, document) with no
    cross-query state, so every step below is a plan-width or pruning
    decision, never a semantics change.

    1. Stored ids must be distinct registry-wide.
    2. Prefilter, when the registry is wider than one chunk and
       ``prefilter`` is on: drop every stored query that shares no
       positive term with the batch (soundness in term_index_rows) via
       ONE join of the query-term index against the batch's terms
       (_prefilter_candidates_indexed). ``term_index`` is the persisted
       or stream-cached (query_id, term) relation, ``term_index_rows``
       its pinned row count; an ad-hoc registry builds its index here
       from term_index_rows. Compile and execution then scale with the
       CANDIDATE slice, not the registry, and the survivors' expansion
       atoms resolve once for every chunk.
    3. Chunk by ``chunk_size`` (default MAX_COMPILE_QUERIES, the
       measured compile/execution knee): each chunk is its own pruned
       one-scan aggregation.
    4. Compile each chunk (_cached_chunk → _compile_chunk).
       ``compile_cache`` memoizes the bundles by their (qid, query)
       tuple — streams pass one dict for their lifetime, so a stable
       candidate set compiles once, not per micro-batch; vocab-dependent
       bundles (expansion atoms) are never cached.
    5. ``emit(bundle)`` builds the chunk's output over ``rel``; the
       outputs union. With no chunk left the result is an empty frame of
       the DDL ``schema`` (``{doc}`` is rel's doc_id type), so quiet
       batches never change a sink's schema."""
    _check_distinct_ids(queries)
    cs = chunk_size or MAX_COMPILE_QUERIES
    expansion_cache = None
    if prefilter and len(queries) > cs:
        if term_index is None:
            term_index, term_index_rows = _adhoc_term_index(rel.sparkSession, queries)
        queries, expansion_cache = _prefilter_candidates_indexed(
            rel, queries, vocab, term_index, term_index_rows
        )
    outs = [
        emit(_cached_chunk(compile_cache, part, vocab, expansion_cache))
        for part in _chunks(queries, cs)
    ]
    if not outs:
        doc = rel.schema["doc_id"].dataType.simpleString()
        return rel.sparkSession.createDataFrame([], schema.format(doc=doc))
    return reduce(DataFrame.unionByName, outs)


def _percolate_bool(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    chunk_size: int | None = None,
    prefilter: bool = True,
    term_index: DataFrame | None = None,
    term_index_rows: int | None = None,
    compile_cache: dict | None = None,
) -> DataFrame:
    """Summary form of boolean percolation: every stored query's
    (n_docs, first_doc) from ONE global aggregation over its chunk's
    per-doc flags. Queries matching nothing are omitted. Chunking,
    prefilter and compile cache: see _percolate; the registration
    contract: see _compile_chunk."""

    def emit(bundle):
        per_doc, match_of = bundle.per_doc(rel), bundle.match_of
        outs = []
        for qid, m in match_of.items():
            outs.append(F.sum(F.when(m, 1).otherwise(0)).alias(f"_n{qid}"))
            outs.append(F.min(F.when(m, F.col("doc_id"))).alias(f"_f{qid}"))
        row = per_doc.agg(*outs)
        stack_args = ", ".join(f"{qid}, _n{qid}, _f{qid}" for qid in match_of)
        return row.select(
            F.expr(
                f"stack({len(match_of)}, {stack_args}) "
                "as (query_id, n_docs, first_doc)"
            )
        ).filter(F.col("n_docs") > 0)

    return _percolate(
        rel, queries, emit, "query_id int, n_docs bigint, first_doc {doc}",
        vocab=vocab, chunk_size=chunk_size, prefilter=prefilter,
        term_index=term_index, term_index_rows=term_index_rows,
        compile_cache=compile_cache,
    ).orderBy("query_id")


def percolate_matches(
    rel: DataFrame,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None = None,
    chunk_size: int | None = None,
    prefilter: bool = True,
    term_index: DataFrame | None = None,
    term_index_rows: int | None = None,
    compile_cache: dict | None = None,
) -> DataFrame:
    """Alerting form of boolean percolation (r8): the full (query_id,
    doc_id) match table instead of per-query summaries — the shape a
    saved-search/alerting sink consumes (Elasticsearch percolator hits,
    Lucene Monitor). Each stored query contributes one indicator column
    to its chunk's per-doc flag aggregation and an explode unpivots the
    matches to rows. Matching is per-DOCUMENT (no cross-document state),
    which is what makes streaming percolation correct batch-by-batch:
    percolating each micro-batch's documents independently yields
    exactly the batch result over the union. Chunking, prefilter and
    compile cache: see _percolate."""

    def emit(bundle):
        per_doc, match_of = bundle.per_doc(rel), bundle.match_of
        cols = [
            F.when(m, F.lit(qid)).alias(f"_q{qid}") for qid, m in match_of.items()
        ]
        ids = per_doc.select("doc_id", *cols)
        return ids.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.array(*[F.col(f"_q{qid}") for qid in match_of]),
                    lambda q: q.isNotNull(),
                )
            ).alias("query_id"),
        ).select("query_id", "doc_id")

    return _percolate(
        rel, queries, emit, "query_id int, doc_id {doc}",
        vocab=vocab, chunk_size=chunk_size, prefilter=prefilter,
        term_index=term_index, term_index_rows=term_index_rows,
        compile_cache=compile_cache,
    )


def register_percolator_queries(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    table: str = "sftq_percolator",
    vocab: DataFrame | None = None,
) -> str:
    """Persist a percolator registry as a TABLE (Elasticsearch stores
    percolator queries in an index; Lucene Monitor in a query store),
    replacing any registry of that name. The contract is enforced at
    WRITE time, where an alerting system wants the failure: every query
    must parse, have a positive atom (matchable), carry a distinct id and
    use only supported atom kinds, and, when a ``vocab`` relation is
    supplied, its expansion atoms must resolve under the
    ``max_expansions`` cap. A bad stored query rejected at percolate time
    would take the whole registry down with it.

    The registry is ``table`` ``(query_id, query, reg_stamp)`` plus its
    query-term index ``{table}_terms`` ``(query_id, term, reg_stamp)``,
    bucketed by term: the rows the percolate prefilter joins against a
    batch's terms, so the driver parses only candidates. Both carry one
    fresh ``reg_stamp`` (see _write_registry). The registry is small
    relative to the corpus; readers collect the candidate slice of it to
    the driver to compile, as Elasticsearch loads stored queries into the
    percolator's memory index."""
    rows = _validate_registry(spark, queries, vocab)
    _write_registry(spark, table, queries, rows, uuid.uuid4().hex, "overwrite")
    return table


def _validate_registry(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    vocab: DataFrame | None,
) -> list[tuple[int, str | None]]:
    """Write-time registry validation at LINEAR cost (r11): the former
    discipline compiled the whole registry as one empty-relation
    _compile_chunk call, whose per-query flag columns make Catalyst
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
    rows = term_index_rows(queries)
    keys = {
        a.key: _atom_label(a)
        for _qid, qs in queries
        for a, _nots in QL.atoms(QL.parse_query(qs))
        if isinstance(a, QL.Expand)
    }
    if keys and vocab is None:
        raise ValueError(
            f"percolator supports term/phrase/AND/OR/NOT atoms "
            f"(+ expansion atoms when a vocab relation is supplied), "
            f"got {sorted(keys.values())[0]}"
        )
    _resolve_expansions(set(keys), vocab)
    return rows


def _write_registry(
    spark: SparkSession,
    table: str,
    queries: list[tuple[int, str]],
    term_rows: list[tuple[int, str | None]],
    stamp: str,
    mode: str,
) -> None:
    """The one registry writer: the term index ``{table}_terms`` first,
    then the registry ``table``, both under ``stamp``. ``overwrite``
    drops each table (and any orphaned location) just before writing
    it; ``append`` adds rows under the same bucket spec.

    The two writes are not atomic. A crash between them leaves a term
    index that _usable_term_index still trusts only when every index row
    carries the registry's stamp: an overwrite's fresh stamp then shows
    as a mismatch, and an append under the registry's stamp leaves only
    extra index rows, which candidates intersected with the registry
    drop."""
    # the name is interpolated into SQL and into the managed location
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"percolator registry table name {table!r} must be an "
            "unqualified identifier ([A-Za-z_][A-Za-z0-9_]*) — "
            "database-qualified or quoted names are not supported"
        )
    terms_tbl = f"{table}_terms"
    if mode == "overwrite":
        drop_managed_table(spark, terms_tbl)
    (
        spark.createDataFrame(
            [(qid, t, stamp) for qid, t in term_rows], TERM_INDEX_STAMPED_SCHEMA
        )
        .write.mode(mode)
        .bucketBy(TERM_INDEX_BUCKETS, "term")
        .sortBy("term")
        .saveAsTable(terms_tbl)
    )
    if mode == "overwrite":
        drop_managed_table(spark, table)
    spark.createDataFrame(
        [(qid, q, stamp) for qid, q in queries],
        f"query_id int, query string, {REG_STAMP_COL} string",
    ).write.mode(mode).saveAsTable(table)


def add_percolator_queries(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    table: str = "sftq_percolator",
    vocab: DataFrame | None = None,
) -> str:
    """Incrementally ADD stored queries to a registry written by
    register_percolator_queries (the Elasticsearch
    register-one-more-percolator-document shape), without rewriting the
    stored entries. The new batch meets the same write-time contract,
    and an id already stored raises before anything is written (a
    silent overwrite would re-route alerts). A table pair without a
    ``reg_stamp`` column or without ``{table}_terms`` was not written by
    this module and raises. The new rows append to both tables under
    the registry's current stamp (a fresh one if it is empty)."""
    term_rows = _validate_registry(spark, queries, vocab)
    terms_tbl = f"{table}_terms"
    main = spark.table(table)
    if not (
        spark.catalog.tableExists(terms_tbl)
        and REG_STAMP_COL in main.columns
        and REG_STAMP_COL in spark.table(terms_tbl).columns
    ):
        raise ValueError(
            f"{table} is not a stamped percolator registry with a "
            f"{terms_tbl} term index — write it with "
            "register_percolator_queries"
        )
    stored = main.select("query_id", REG_STAMP_COL).collect()
    clash = sorted({int(r.query_id) for r in stored} & {qid for qid, _q in queries})
    if clash:
        raise ValueError(
            f"query_id(s) {clash} already registered in {table} — remove "
            "first or use distinct ids"
        )
    stamp = stored[0][REG_STAMP_COL] if stored else uuid.uuid4().hex
    _write_registry(spark, table, queries, term_rows, stamp, "append")
    return table


def remove_percolator_queries(
    spark: SparkSession,
    ids: list[int],
    table: str = "sftq_percolator",
) -> int:
    """Remove stored queries by id. The registry is bounded-small, so
    removal rewrites the kept rows (and their term index) under a fresh
    stamp rather than writing tombstones. An id that is not registered
    raises: a no-op delete usually means an alerting misconfiguration.
    Returns the number removed."""
    rows = [
        (int(r.query_id), r.query)
        for r in spark.table(table).orderBy("query_id").collect()
    ]
    missing = sorted(set(ids) - {qid for qid, _q in rows})
    if missing:
        raise ValueError(f"query_id(s) {missing} not registered in {table}")
    drop = set(ids)
    keep = [(qid, q) for qid, q in rows if qid not in drop]
    _write_registry(
        spark, table, keep, term_index_rows(keep), uuid.uuid4().hex, "overwrite"
    )
    return len(rows) - len(keep)


def _usable_term_index(
    spark: SparkSession, table: str
) -> tuple[DataFrame | None, int | None]:
    """Read-time consistency guard for the persisted query-term index.
    The pair is usable only when ``{table}_terms`` exists, both tables
    carry ``reg_stamp``, and one aggregate over the index finds every
    row under the registry's stamp (``min = max = stamp``). Then it
    returns the ``(query_id, term)`` relation and its row count, which
    drives the prefilter's broadcast-side choice without a count job.
    Otherwise (a torn write, or a pair not written by this module) it
    returns (None, None) and callers prefilter through an index built
    from the registry itself, which is always correct."""
    terms_tbl = f"{table}_terms"
    if not spark.catalog.tableExists(terms_tbl):
        return None, None
    main = spark.table(table)
    ti = spark.table(terms_tbl)
    if REG_STAMP_COL not in main.columns or REG_STAMP_COL not in ti.columns:
        return None, None
    head = main.select(REG_STAMP_COL).head()
    lo, hi, n = ti.agg(
        F.min(REG_STAMP_COL), F.max(REG_STAMP_COL), F.count(F.lit(1))
    ).head()
    if head is None or not (lo == hi == head[0]):
        return None, None
    return ti.select("query_id", "term"), n


def percolate_from_table(
    spark: SparkSession,
    rel: DataFrame,
    table: str = "sftq_percolator",
    vocab: DataFrame | None = None,
    matches: bool = False,
) -> DataFrame:
    """Percolate the postings ``rel`` against a PERSISTED registry: the
    summary form by default, the (query_id, doc_id) alerting table with
    ``matches=True``. When _usable_term_index trusts ``{table}_terms``,
    the candidate-id relation joins the registry Spark-side and only the
    candidate slice reaches the driver, so per-call driver transfer and
    parsing track candidates, not registry size; registration's
    distinct-id check makes skipping the driver-side re-check sound.
    Otherwise the whole registry is read back and prefiltered in memory."""
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
    # already prefiltered: the (bounded) survivor slice compiles directly
    # — wider slices chunk without re-prefiltering, and an empty slice is
    # the form's typed empty frame
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


def _percolate_stream(
    doc_stream: DataFrame,
    queries: list[tuple[int, str]],
    term_index: DataFrame | None,
    ti_rows: int | None,
    percolate,
    cols: tuple[str, ...],
    out_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
):
    """The alerting streams' shared loop. At stream start the query-term
    index (``term_index`` when persisted and usable, else built from
    ``queries``) is CACHED with its row count pinned, so every
    micro-batch prefilters via one broadcast join against it — the
    registry is not re-parsed per batch — and one ``compile_cache`` dict
    memoizes chunk compiles for the stream's lifetime (the candidate set
    is usually stable batch-to-batch, so steady-state batches skip the
    per-chunk compile). Each batch's positional postings (``cols`` of
    them) go through ``percolate`` and the alerts, stamped with the
    batch id, land as an idempotent overwrite (exactly-once under
    replay). The cached index is unpersisted when the stream terminates
    (_UnpersistOnStop)."""
    spark = doc_stream.sparkSession
    if term_index is None:
        term_index, ti_rows = _adhoc_term_index(spark, queries)
    term_index = term_index.cache()
    compile_cache: dict = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rel = FT.positional_postings(batch_df, id_col, text_col).select(*cols)
        (
            percolate(
                rel, queries, vocab=rel.select("term").distinct(),
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


def stream_percolate_alerts(
    doc_stream: DataFrame,
    table: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The production alerting loop in one call (r9): documents stream
    in; every micro-batch is percolated (percolate_matches) against the
    PERSISTED registry table and (batch_id, query_id, doc_id) alerts
    append as batch-id-stamped idempotent overwrites (exactly-once under
    replay).

    Registry refresh contract: stored queries are read and compiled ONCE
    at stream start (the bounded collect — Elasticsearch likewise loads
    percolator queries into a memory index), so
    add/remove_percolator_queries take effect on stream RESTART; already-
    processed documents are not re-percolated against later additions —
    re-stream with a fresh checkpoint to backfill. Expansion atoms
    resolve per batch against the batch's own vocabulary (exact for
    per-document matching). The persisted ``{table}_terms`` index serves
    the prefilter when the _usable_term_index consistency guard passes;
    the cache, pinned count and compile memo are _percolate_stream's."""
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
    ti, ti_rows = _usable_term_index(spark, table)
    return _percolate_stream(
        doc_stream, stored, ti, ti_rows, percolate_matches,
        ("doc_id", "term", "positions"), out_dir, checkpoint_dir, id_col, text_col,
    )


# stored percolator queries: arbitrary boolean (AND/OR/NOT + phrase)
_PERCOLATE_BOOL_QUERIES = [
    (1, "(spark AND join) AND NOT vector"),
    (2, "vector OR stream"),
    (3, '"data query" AND window'),
    (4, 'batch AND NOT "spark join"'),
    (5, "(merge OR stream) AND spark"),
]
# the ranked registry boosts 'stream' in query 5 only (query 2 keeps it
# unboosted); a power-of-two boost keeps the oracle's float exact
_PERCOLATE_SCORED_QUERIES = [
    *_PERCOLATE_BOOL_QUERIES[:4],
    (5, "(merge OR stream^2) AND spark"),
]
_SCORED_TERMS = sorted(
    {t for _qid, q in _PERCOLATE_SCORED_QUERIES for t in QL.term_boosts(QL.parse_query(q))}
)

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
    all_terms = sorted({t for _qid, terms in _PERCOLATE_QUERIES for t in terms})
    return _percolate_conjunctive(
        spark.table(f"{prefix}_postings").filter(F.col("term").isin(all_terms))
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
) -> DataFrame:
    """Ranked percolation (the Elasticsearch percolate-with-scoring
    surface): every (stored query, matching document) pair carries the
    Lucene BM25 score of its scoring terms — the engine's one term weight,
    fulltext.bm25_term_score, with n_docs, avgdl and each term's df pinned
    as driver literals, tf and the denormalized dl off the posting row, and
    a stored query's `term^N` boosts applied exactly as search applies
    them — and each query keeps its top-k docs (every scored match with
    ``k=None``). The per-term BM25 contributions fold into the SAME
    one-scan doc_id aggregation as the match flags (``per_doc``'s extra
    aggregates); per-query scores are sums of their positive terms'
    columns, so the whole thing stays scan + agg + window, no join.
    Expansion atoms match constant-score (no idf contribution), exactly
    like search_indexed.

    ``rel`` must expose (doc_id, term, positions, tf, dl). Chunking,
    prefilter and compile cache: see _percolate; the top-k window runs
    once over the union (per-query ranking is independent of the other
    queries)."""
    from sparkfulltextquery_spark.functions.fulltext import bm25_term_score

    text = dict(queries)

    def emit(bundle):
        # one score column per (term, boost): stored queries may weight a term differently
        pos_of = {
            qid: sorted(QL.term_boosts(QL.parse_query(text[qid])).items())
            for qid in bundle.match_of
        }
        union_pos = sorted({tw for tws in pos_of.values() for tw in tws})
        bcol = {tw: f"_b{i}" for i, tw in enumerate(union_pos)}
        extra = tuple(
            F.sum(F.when(F.col("term") == t, bm25_term_score(n_docs, avgdl, df_of[t], boosts={t: w})[1]))
            .alias(c)
            for (t, w), c in bcol.items()
        )
        per_doc, match_of = bundle.per_doc(rel, extra), bundle.match_of

        def qscore(qid):
            terms = pos_of[qid]
            if not terms:
                return F.lit(0.0)
            s = F.lit(0.0)
            for tw in terms:
                s = s + F.coalesce(F.col(bcol[tw]), F.lit(0.0))
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
        return scored.select(
            "doc_id",
            F.expr(f"stack({len(match_of)}, {stack_args}) as (query_id, score)"),
        ).filter(F.col("score").isNotNull())

    rows = _percolate(
        rel, queries, emit, "doc_id {doc}, query_id int, score double",
        vocab=vocab, chunk_size=chunk_size, prefilter=prefilter,
        term_index=term_index, term_index_rows=term_index_rows,
        compile_cache=compile_cache,
    )
    if k is None:
        # every scored match, no top-k cut — the streaming form needs this:
        # per-query top-k is the ONLY cross-document step, so the stream
        # emits all matches and the cut happens over the alert log at read
        # time (read_scored_alerts)
        return rows.select("query_id", "doc_id", "score")
    return _top_k(rows, k)


def _top_k(rows: DataFrame, k: int) -> DataFrame:
    """Each query's top-k (query_id, doc_id, score) rows of ``rows``, by
    score descending then doc_id."""
    from pyspark.sql import Window

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
      UNION ALL SELECT 5, doc_id, round(b_merge + b_spark + 2 * b_stream, 4)
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
    d = load_table(spark, sf_dir, "documents")
    rel = FT.positional_postings(d).select("doc_id", "term", "positions", "tf", "dl")

    st = FT.doc_lengths(d).agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).head()
    dfr = {
        r.term: int(r.df)
        for r in FT.postings(d)
        .filter(F.col("term").isin(_SCORED_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    df_of = {t: dfr.get(t, 0) for t in _SCORED_TERMS}
    return percolate_scored(
        rel, _PERCOLATE_SCORED_QUERIES, int(st.n), float(st.avgdl), df_of, k=3
    )


@query("fulltext_percolate_scored_indexed", oracle=_PERCOLATE_SCORED_ORACLE)
def fulltext_percolate_scored_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ranked percolation off the PERSISTED index: tf and dl come off the
    bucket-pruned posting rows, idf/n_docs/avgdl fold in as driver
    literals from the stats/df tables — scan + one aggregation + one
    window, no join, corpus never touched."""
    from sparkfulltextquery_spark.functions.index import (
        _df_stats_literals,
        _force_bucketed_scan,
    )

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    rel = spark.table(f"{prefix}_postings").select(
        "doc_id", "term", "positions", "tf", "dl"
    )
    n_docs, avgdl, df_of = _df_stats_literals(spark, prefix, _SCORED_TERMS)
    return percolate_scored(
        rel, _PERCOLATE_SCORED_QUERIES, n_docs, avgdl, df_of, k=3
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

    The cached query-term index, its pinned row count and the compile
    memo are _percolate_stream's."""
    percolate = partial(percolate_scored, n_docs=n_docs, avgdl=avgdl, df_of=df_of, k=None)
    return _percolate_stream(
        doc_stream, queries, None, None, percolate,
        ("doc_id", "term", "positions", "tf", "dl"),
        out_dir, checkpoint_dir, id_col, text_col,
    )


def read_scored_alerts(spark: SparkSession, out_dir: str, k: int = 3) -> DataFrame:
    """Per-query top-k over the streamed scored-alert log — the read-time
    half of stream_percolate_scored (top-k is the only cross-document
    step, so it runs here, over all batches' matches)."""
    return _top_k(spark.read.parquet(out_dir).select("query_id", "doc_id", "score"), k)


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

    from sparkfulltextquery_spark.functions.index import _df_stats_literals
    from sparkfulltextquery_spark.storage import index_store_root

    prefix = _ensure_index(spark, sf_dir)
    n_docs, avgdl, df_of = _df_stats_literals(spark, prefix, _SCORED_TERMS)

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
        stream, _PERCOLATE_SCORED_QUERIES, n_docs, avgdl, df_of,
        f"file://{out}", f"file://{ck}",
    )
    q.awaitTermination()
    return read_scored_alerts(spark, f"file://{out}", k=3)
