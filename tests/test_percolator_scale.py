"""Percolator registry boundary (VERDICT r08 #1): the per-query
flag-column compile was documented safe "up to O(10^3) stored queries"
but never exercised past 5. These tests compile a 1,000-query registry,
pin plan-build time, and prove the chunked overflow path (column-width-
bounded groups, results unioned) is exactly equivalent to both the
single-compile form and a pure-Python reference evaluator."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


from scripts.measure_percolator_boundary import gen_registry
from tests.conftest import SF_DIR

# scale-matrix tier (r13): every test here drives a 1k-1M query registry —
# stress coverage, not gating; the driver tier keeps the quick percolator
# equivalence pins in test_querylang/test_streaming
pytestmark = pytest.mark.heavy


def _py_matches(queries, toks):
    """Reference: {(query_id, doc_id)} via a pure-Python evaluator over
    per-doc token lists (term/AND/OR/NOT shapes — all gen_registry
    emits)."""
    from sparkfulltextquery_spark.functions import querylang as QL

    def ev(node, ts):
        if isinstance(node, QL.Term):
            return node.text in ts
        if isinstance(node, QL.Not):
            return not ev(node.child, ts)
        if isinstance(node, QL.And):
            return all(ev(c, ts) for c in node.children)
        return any(ev(c, ts) for c in node.children)

    out = set()
    for qid, q in queries:
        ast = QL.parse_query(q)
        for doc_id, ts in toks.items():
            if ev(ast, ts):
                out.add((qid, doc_id))
    return out


def _toks(spark):
    from sparkfulltextquery_spark.functions.fulltext import _py_tokenize
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    return {int(r.doc_id): _py_tokenize(r.text) for r in docs.collect()}


def _vocab_by_freq(toks, n=200):
    from collections import Counter

    c = Counter(t for ts in toks.values() for t in set(ts))
    return [t for t, _n in c.most_common(n)]


def test_percolator_1k_registry_chunked_equals_reference(spark):
    """1,000 stored boolean queries percolate correctly through the
    chunked production path (default MAX_COMPILE_QUERIES groups over the
    same posting relation), matching the pure-Python reference on every
    (query_id, doc_id) pair — and plan build stays bounded (the measured
    sf0.1 knee lives in SCALE.md; this pin is the regression tripwire,
    generous enough for a loaded CI host)."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import percolate_matches
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    registry = gen_registry(_vocab_by_freq(toks), 1000)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")

    t0 = time.perf_counter()
    df = percolate_matches(rel, registry)
    df.schema  # force Catalyst analysis of every chunk
    compile_s = time.perf_counter() - t0
    got = {(int(r.query_id), int(r.doc_id)) for r in df.collect()}
    want = _py_matches(registry, toks)
    assert got == want
    assert want, "generated registry matched nothing — vocabulary drifted"
    assert compile_s < 120, f"1k-registry plan build took {compile_s:.1f}s"


def test_percolator_chunked_equals_single_compile(spark):
    """Chunk-boundary exactness: the same 300-query registry percolated
    as one compile, as 50-query chunks, and as 7-query (ragged tail)
    chunks produces identical (query_id, doc_id) sets — chunking is a
    pure plan-width decision, never a semantics change. Summary and
    scored forms chunk identically (per-query aggregation/top-k carries
    no cross-query state)."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import (
        _percolate_bool,
        percolate_matches,
    )
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    registry = gen_registry(_vocab_by_freq(toks), 300)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")

    single = {
        (int(r.query_id), int(r.doc_id))
        for r in percolate_matches(rel, registry, chunk_size=10**9).collect()
    }
    for cs in (50, 7):
        chunked = {
            (int(r.query_id), int(r.doc_id))
            for r in percolate_matches(rel, registry, chunk_size=cs).collect()
        }
        assert chunked == single, f"chunk_size={cs} diverged"

    sum_single = {
        tuple(r)
        for r in _percolate_bool(rel, registry, chunk_size=10**9).collect()
    }
    sum_chunked = {
        tuple(r) for r in _percolate_bool(rel, registry, chunk_size=50).collect()
    }
    assert sum_chunked == sum_single


def test_percolator_chunking_catches_cross_chunk_duplicate_ids(spark):
    """The registry-wide duplicate-id gate fires even when the duplicates
    would land in DIFFERENT chunks (the per-compile check alone would
    miss them and silently union both)."""
    import pytest

    from sparkfulltextquery_spark.functions.percolate import percolate_matches

    rel = spark.createDataFrame(
        [(1, "spark", [0])], "doc_id long, term string, positions array<int>"
    )
    dup = [(i, "spark") for i in range(1, 5)] + [(1, "join")]
    with pytest.raises(ValueError, match="duplicate stored percolator"):
        percolate_matches(rel, dup, chunk_size=2)


def test_percolator_scored_chunked_equals_single(spark):
    """Ranked percolation chunks exactly: per-query BM25 top-k is
    independent across queries, so the chunked union equals the single
    compile row-for-row (same scores, same k cut)."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import querylang as QL
    from sparkfulltextquery_spark.functions.fulltext import doc_lengths
    from sparkfulltextquery_spark.functions.percolate import percolate_scored
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    registry = gen_registry(_vocab_by_freq(toks), 40)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions", "tf", "dl")
    union_pos = sorted(
        {t for _qid, q in registry for t in QL.term_boosts(QL.parse_query(q))}
    )
    dls = doc_lengths(docs)
    st = dls.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")).head()
    dfr = {
        r.term: int(r.df)
        for r in FT.postings(docs)
        .filter(F.col("term").isin(union_pos))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    df_of = {t: dfr.get(t, 0) for t in union_pos}

    def run(cs):
        return sorted(
            (int(r.query_id), int(r.doc_id), float(r.score))
            for r in percolate_scored(
                rel, registry, int(st.n), float(st.avgdl), df_of, k=3,
                chunk_size=cs,
            ).collect()
        )

    assert run(9) == run(10**9)


def test_percolator_prefilter_equals_unfiltered_and_skips_chunks(spark, monkeypatch):
    """Query-term-index prefilter (r10, VERDICT r09 #5): a registry where
    half the stored queries reference only terms ABSENT from the corpus
    must (a) produce exactly the unfiltered result, and (b) compile and
    execute only the candidate slice's chunks — observed by counting
    _percolate_compile invocations. Negative-polarity coverage: a doc
    containing only a query's NOT'd term must not resurrect the query
    (positive-polarity extraction, see term_index_rows)."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab = _vocab_by_freq(toks)
    live = gen_registry(vocab, 300)
    # 300 queries over terms that never tokenize out of the corpus; ids
    # offset past the live block; mix pure-absent with absent-AND-NOT-live
    # shapes so polarity extraction is exercised
    dead = []
    for i in range(300):
        qid = 10_000 + i
        if i % 3 == 0:
            dead.append((qid, f"zzqx{i} AND zzqy{i}"))
        elif i % 3 == 1:
            dead.append((qid, f"zzqx{i} OR zzqz{i}"))
        else:
            # positive atom absent; the NOT'd term is LIVE in the corpus —
            # its presence alone must not make this query a candidate
            dead.append((qid, f"zzqx{i} AND NOT {vocab[i % len(vocab)]}"))
    registry = live + dead

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")

    compiles = []
    orig = P._compile_chunk

    def counting(*a, **kw):
        compiles.append(len(a[0]))
        return orig(*a, **kw)

    monkeypatch.setattr(P, "_compile_chunk", counting)

    unfiltered = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, chunk_size=100, prefilter=False
        ).collect()
    }
    n_unfiltered = len(compiles)
    compiles.clear()
    filtered = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, chunk_size=100, prefilter=True
        ).collect()
    }
    n_filtered = len(compiles)

    assert filtered == unfiltered
    assert not any(qid >= 10_000 for qid, _d in filtered)
    assert n_unfiltered == 6            # ceil(600/100)
    assert n_filtered == 3              # only the live slice's chunks
    # the summary form prefilters identically
    compiles.clear()
    s_unf = {
        tuple(r)
        for r in P._percolate_bool(
            rel, registry, chunk_size=100, prefilter=False
        ).collect()
    }
    s_fil = {
        tuple(r)
        for r in P._percolate_bool(
            rel, registry, chunk_size=100, prefilter=True
        ).collect()
    }
    assert s_fil == s_unf


def test_percolator_prefilter_all_skipped_returns_typed_empty(spark):
    """A batch overlapping NO stored query must return an EMPTY frame with
    the exact (query_id, doc_id) / summary schema — downstream unions and
    sinks must not see a schema change on quiet batches."""
    from sparkfulltextquery_spark.functions import percolate as P

    rel = spark.createDataFrame(
        [(1, "onlyhere", [0])],
        "doc_id long, term string, positions array<int>",
    )
    registry = [(i, f"zzabsent{i}") for i in range(1, 600)]
    m = P.percolate_matches(rel, registry, chunk_size=100)
    assert m.count() == 0
    assert [f.name for f in m.schema] == ["query_id", "doc_id"]
    b = P._percolate_bool(rel, registry, chunk_size=100)
    assert b.count() == 0
    assert [f.name for f in b.schema] == ["query_id", "n_docs", "first_doc"]


def test_percolator_prefilter_expansion_atoms_chunked(spark):
    """Expansion atoms through the chunked+prefiltered path: the registry-
    wide expansion cache (resolved ONCE by the prefilter, reused by
    every chunk's compile) must yield exactly the single-compile result —
    including NEGATED expansion atoms, whose term lists live only in the
    cache's both-polarity half, and absent-prefix queries, which the
    prefilter must drop without perturbing survivors."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions.percolate import percolate_matches
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks, 40)
    nv = len(vocab_terms)
    registry = []
    qid = 1
    for t in vocab_terms:  # prefix-expansion + negated plain term
        registry.append((qid, f"{t[:4]}* AND NOT {vocab_terms[(qid * 3) % nv]}"))
        qid += 1
        registry.append((qid, f"{t} OR zzqabsent{qid}*"))
        qid += 1
    for i in range(40):  # absent-prefix queries the prefilter must drop
        registry.append((qid, f"zzqnever{i}* AND data"))
        # NOTE: positive atom 'data' keeps these candidates; truly dead:
        registry.append((qid + 1, f"zzqnever{i}a* OR zzqnever{i}b*"))
        qid += 2

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    vocab = rel.select("term").distinct()

    single = {
        (int(r.query_id), int(r.doc_id))
        for r in percolate_matches(
            rel, registry, vocab=vocab, chunk_size=10**9
        ).collect()
    }
    chunked_pref = {
        (int(r.query_id), int(r.doc_id))
        for r in percolate_matches(
            rel, registry, vocab=vocab, chunk_size=25, prefilter=True
        ).collect()
    }
    assert chunked_pref == single
    assert single, "expansion registry matched nothing — vocabulary drifted"


def test_percolator_pure_negation_raises_on_prefilter_path(spark):
    """ADVICE r10 (medium): a pure-negation stored query ('NOT spark')
    must fail LOUDLY on the chunked+prefiltered path too — previously the
    prefilter silently dropped it (empty positive-term set) before the
    compile-time _eval_empty check could fire, turning the r8 fail-loud
    contract into silently missed alerts, and only for registries larger
    than one chunk. Both the in-memory prefilter and the term-index
    builder now raise the same error."""
    import pytest

    from sparkfulltextquery_spark.functions import percolate as P

    rel = spark.createDataFrame(
        [(1, "spark", [0])], "doc_id long, term string, positions array<int>"
    )
    registry = [(i, f"t{i} AND data") for i in range(1, 301)]
    registry.append((999, "NOT spark"))
    with pytest.raises(ValueError, match="satisfiable by the empty document"):
        P.percolate_matches(rel, registry, chunk_size=100, prefilter=True)
    with pytest.raises(ValueError, match="satisfiable by the empty document"):
        P.term_index_rows(registry)
    # small registries already raised at compile time — still do
    with pytest.raises(ValueError, match="satisfiable by the empty document"):
        P.percolate_matches(rel, [(1, "NOT spark")])


def test_percolator_term_index_prefilter_equals_in_memory(spark, monkeypatch):
    """r11 (VERDICT r10 #1): the shuffle-parallel prefilter — ONE
    broadcast join of the persisted (query_id, term) relation against the
    batch's posting terms — must produce exactly the in-memory
    prefilter's results AND the unfiltered results, must skip the dead
    slice's chunks, and must keep queries with positive EXPANSION atoms
    as unconditional candidates (their NULL-term rows), including ones
    whose resolved terms the batch lacks (conservative, never a miss)."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks)
    live = gen_registry(vocab_terms, 200)
    dead = [(10_000 + i, f"zzqx{i} AND zzqy{i}") for i in range(300)]
    # expansion-atom queries: live prefix + an absent prefix (still a
    # candidate via its NULL row — only the compile resolves it to [])
    exp = [
        (20_000, f"{vocab_terms[0][:4]}* AND {vocab_terms[1]}"),
        (20_001, "zzqnever* OR zzqalso*"),
    ]
    registry = live + dead + exp

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    vocab = rel.select("term").distinct()
    term_df = spark.createDataFrame(
        P.term_index_rows(registry), P.TERM_INDEX_SCHEMA
    )

    compiles = []
    orig = P._compile_chunk

    def counting(*a, **kw):
        compiles.append(len(a[0]))
        return orig(*a, **kw)

    monkeypatch.setattr(P, "_compile_chunk", counting)

    unfiltered = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, vocab=vocab, chunk_size=100, prefilter=False
        ).collect()
    }
    compiles.clear()
    inmem = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, vocab=vocab, chunk_size=100, prefilter=True
        ).collect()
    }
    compiles.clear()
    indexed = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, vocab=vocab, chunk_size=100, term_index=term_df
        ).collect()
    }
    n_indexed_compiles = len(compiles)
    assert indexed == unfiltered == inmem
    assert indexed, "registry matched nothing — vocabulary drifted"
    # 502 queries unfiltered = 6 chunks; candidates = 200 live + 2
    # expansion (always) = 202 → 3 chunks
    assert n_indexed_compiles == 3
    # the summary form routes through the same indexed prefilter
    s_unf = {
        tuple(r)
        for r in P._percolate_bool(
            rel, registry, vocab=vocab, chunk_size=100, prefilter=False
        ).collect()
    }
    s_idx = {
        tuple(r)
        for r in P._percolate_bool(
            rel, registry, vocab=vocab, chunk_size=100, term_index=term_df
        ).collect()
    }
    assert s_idx == s_unf


def test_percolator_persisted_term_index_consistency(spark, tmp_path):
    """register → add → remove keep the sibling {table}_terms relation
    exactly equal to term_index_rows(current registry), and
    percolate_from_table through the persisted index equals the
    unfiltered percolation of the same registry."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks)
    base = gen_registry(vocab_terms, 300)
    extra = [(5_000 + i, f"zzqx{i} OR {vocab_terms[i]}") for i in range(10)]

    def stored_terms(tbl):
        return {
            (int(r.query_id), r.term)
            for r in spark.table(f"{tbl}_terms").collect()
        }

    tbl = P.register_percolator_queries(spark, base, table="sftq_r11_perc")
    assert stored_terms(tbl) == set(P.term_index_rows(base))

    P.add_percolator_queries(spark, extra, table=tbl)
    assert stored_terms(tbl) == set(P.term_index_rows(base + extra))

    P.remove_percolator_queries(spark, [qid for qid, _q in extra[:5]], table=tbl)
    survivors = base + extra[5:]
    assert stored_terms(tbl) == set(P.term_index_rows(survivors))

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    via_table = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_from_table(spark, rel, table=tbl, matches=True)
        .collect()
    }
    direct = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(rel, survivors, prefilter=False).collect()
    }
    assert via_table == direct
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_terms")


def test_percolator_adhoc_prefilter_equals_unfiltered(spark, monkeypatch):
    """An AD-HOC (unregistered) registry prefilters through the same
    query-term-index join as a persisted one, its index built on the fly
    from term_index_rows: the result equals the unfiltered baseline,
    expansion atoms included (a positive one makes its query an
    always-candidate), and no dead zzqx query reaches a compile."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks)
    registry = gen_registry(vocab_terms, 150)
    registry += [(10_000 + i, f"zzqx{i} AND zzqy{i}") for i in range(200)]
    registry.append((20_000, f"{vocab_terms[0][:4]}* OR zzqnever*"))

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    vocab = rel.select("term").distinct()

    compiled = []
    orig = P._compile_chunk

    def counting(*a, **kw):
        compiled.extend(qid for qid, _q in a[0])
        return orig(*a, **kw)

    monkeypatch.setattr(P, "_compile_chunk", counting)

    def run(prefilter):
        return {
            (int(r.query_id), int(r.doc_id))
            for r in P.percolate_matches(
                rel, registry, vocab=vocab, chunk_size=100, prefilter=prefilter
            ).collect()
        }

    prefiltered = run(True)
    assert compiled and not any(10_000 <= qid < 20_000 for qid in compiled)
    assert 20_000 in compiled
    unfiltered = run(False)
    assert prefiltered == unfiltered
    assert prefiltered, "registry matched nothing — vocabulary drifted"


def test_percolator_indexed_prefilter_broadcast_flip_equals(spark, monkeypatch):
    """r12 (VERDICT r11 #1): past PREFILTER_INDEX_BROADCAST_MAX_ROWS index
    rows the indexed prefilter flips its broadcast side — the BATCH's
    distinct terms broadcast into a join streamed over the term index,
    instead of shipping the whole index. Forced here by dropping the
    threshold to 0: the flipped path must produce exactly the default
    (index-broadcast) path's results and the unfiltered baseline,
    NULL-term always-candidates (expansion atoms) included."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks)
    live = gen_registry(vocab_terms, 200)
    dead = [(10_000 + i, f"zzqx{i} AND zzqy{i}") for i in range(300)]
    exp = [
        (20_000, f"{vocab_terms[0][:4]}* AND {vocab_terms[1]}"),
        (20_001, "zzqnever* OR zzqalso*"),
    ]
    registry = live + dead + exp

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    vocab = rel.select("term").distinct()
    term_df = spark.createDataFrame(
        P.term_index_rows(registry), P.TERM_INDEX_SCHEMA
    )

    def run():
        return {
            (int(r.query_id), int(r.doc_id))
            for r in P.percolate_matches(
                rel, registry, vocab=vocab, chunk_size=100, term_index=term_df
            ).collect()
        }

    via_index_bcast = run()
    monkeypatch.setattr(P, "PREFILTER_INDEX_BROADCAST_MAX_ROWS", 0)
    via_batch_bcast = run()
    unfiltered = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, vocab=vocab, chunk_size=100, prefilter=False
        ).collect()
    }
    assert via_batch_bcast == via_index_bcast == unfiltered
    assert via_batch_bcast, "registry matched nothing — vocabulary drifted"
    # the pinned-count fast path must take the same branch decision
    via_pinned = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel, registry, vocab=vocab, chunk_size=100,
            term_index=term_df, term_index_rows=len(P.term_index_rows(registry)),
        ).collect()
    }
    assert via_pinned == unfiltered


def test_percolator_registry_crash_consistency_guard(spark):
    """r12 (ADVICE r11, medium): the registry and its term index are two
    non-atomic writes; a crash between them must NEVER cause silently
    missed alerts. A torn pair shows as a reg_stamp mismatch, and
    percolate_from_table falls back to the in-memory prefilter and still
    produces the exact unfiltered result for the CURRENT registry."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks)
    reg_a = gen_registry(vocab_terms, 260)
    # registry B shifts every query to DIFFERENT vocabulary slots, so A's
    # term index is genuinely wrong for B (not merely stale-but-covering)
    reg_b = [
        (qid, q)
        for qid, q in gen_registry(list(reversed(vocab_terms)), 260)
    ]

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel = FT.positional_postings(docs).select("doc_id", "term", "positions")

    tbl = P.register_percolator_queries(spark, reg_a, table="sftq_r12_crash")
    # healthy pair: guard passes and returns the pinned row count
    ti, ti_rows = P._usable_term_index(spark, tbl)
    assert ti is not None and ti_rows == len(P.term_index_rows(reg_a))

    # simulate the torn register: the MAIN table now carries registry B
    # under a fresh stamp, while {table}_terms still holds A's rows
    import uuid

    stamp_b = uuid.uuid4().hex
    (
        spark.createDataFrame(
            [(qid, q, stamp_b) for qid, q in reg_b],
            f"query_id int, query string, {P.REG_STAMP_COL} string",
        )
        .write.mode("overwrite")
        .saveAsTable(tbl)
    )
    ti, ti_rows = P._usable_term_index(spark, tbl)
    assert ti is None and ti_rows is None
    via_table = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_from_table(spark, rel, table=tbl, matches=True)
        .collect()
    }
    direct = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(rel, reg_b, prefilter=False).collect()
    }
    assert via_table == direct and direct

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}_terms")


def test_percolator_compile_cache_hits_and_invalidates(spark, monkeypatch):
    """r12 (VERDICT r11 #5): with a shared compile_cache dict, a second
    percolation over the SAME candidate slice compiles zero chunks (pure
    cache hits) and returns identical results on a DIFFERENT batch; a
    batch whose candidate set changes compiles exactly its new chunks;
    expansion-atom chunks (vocab-dependent) are never cached."""
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.sources import load_table

    toks = _toks(spark)
    vocab_terms = _vocab_by_freq(toks)
    registry = gen_registry(vocab_terms, 300)
    term_df = spark.createDataFrame(
        P.term_index_rows(registry), P.TERM_INDEX_SCHEMA
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rel_all = FT.positional_postings(docs).select("doc_id", "term", "positions")
    rel_half = rel_all.filter(F.col("doc_id") % 2 == 0)

    compiles = []
    orig = P._compile_chunk

    def counting(*a, **kw):
        compiles.append(len(a[0]))
        return orig(*a, **kw)

    monkeypatch.setattr(P, "_compile_chunk", counting)

    cache: dict = {}

    def run(rel):
        return {
            (int(r.query_id), int(r.doc_id))
            for r in P.percolate_matches(
                rel, registry, chunk_size=100, term_index=term_df,
                compile_cache=cache,
            ).collect()
        }

    first = run(rel_all)
    n_first = len(compiles)
    assert n_first == 3 and first
    compiles.clear()
    second = run(rel_all)
    assert len(compiles) == 0, "stable candidate set must be a pure cache hit"
    assert second == first
    # different batch, same candidate slice → still zero compiles, and
    # the result is the half-batch's own matches (columns re-bind)
    compiles.clear()
    half = run(rel_half)
    assert len(compiles) == 0
    assert half == {(q, d) for q, d in first if d % 2 == 0}

    # candidate-set CHANGE: restrict the batch to docs whose terms hit
    # only part of the registry — chunk boundaries shift, so the new
    # slice's chunks compile (cache miss), results stay correct
    few_terms = vocab_terms[:3]
    rel_narrow = rel_all.filter(F.col("term").isin(few_terms))
    compiles.clear()
    narrow = run(rel_narrow)
    assert len(compiles) >= 1, "changed candidate set must recompile"
    want_narrow = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel_narrow, registry, chunk_size=100, prefilter=False
        ).collect()
    }
    assert narrow == want_narrow

    # expansion atoms: vocab-dependent bundles must never enter the cache
    # (the fixture corpus vocabulary is ~60 terms — cycle it)
    nv = len(vocab_terms)
    exp_registry = registry[:150] + [
        (
            30_000 + i,
            f"{vocab_terms[i % nv][:4]}* AND {vocab_terms[(i + 1) % nv]}",
        )
        for i in range(140)
    ]
    exp_term_df = spark.createDataFrame(
        P.term_index_rows(exp_registry), P.TERM_INDEX_SCHEMA
    )
    vocab = rel_all.select("term").distinct()
    exp_cache: dict = {}
    compiles.clear()
    r1 = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel_all, exp_registry, vocab=vocab, chunk_size=100,
            term_index=exp_term_df, compile_cache=exp_cache,
        ).collect()
    }
    n1 = len(compiles)
    compiles.clear()
    r2 = {
        (int(r.query_id), int(r.doc_id))
        for r in P.percolate_matches(
            rel_all, exp_registry, vocab=vocab, chunk_size=100,
            term_index=exp_term_df, compile_cache=exp_cache,
        ).collect()
    }
    assert r2 == r1 and r1
    # chunks containing expansion atoms recompiled; pure-term chunks hit
    assert 0 < len(compiles) <= n1
