"""Persistent inverted index: correctness (indexed search == on-the-fly
search) and scale shape (bucket pruning on term lookups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.fulltext import bm25_search
from sparkfulltextquery_spark.functions.index import bm25_search_indexed, build_index
from sparkfulltextquery_spark.plans import physical_plan
from sparkfulltextquery_spark.sources import load_table
from tests.conftest import SF_DIR

QUERY = "data query spark window"


@pytest.fixture(scope="module")
def index_tables(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    docs = load_table(spark, SF_DIR, "documents")
    return build_index(
        docs, table_prefix="t_idx", num_buckets=8, path=f"file://{warehouse}"
    )


def test_indexed_search_equals_inline_search(spark, index_tables):
    docs = load_table(spark, SF_DIR, "documents")
    inline = {(r.doc_id, r.score) for r in bm25_search(docs, QUERY, k=10).collect()}
    indexed = {
        (r.doc_id, r.score)
        for r in bm25_search_indexed(spark, QUERY, k=10, table_prefix="t_idx").collect()
    }
    assert inline == indexed


def test_postings_lookup_prunes_buckets(spark, index_tables):
    df = bm25_search_indexed(spark, QUERY, k=10, table_prefix="t_idx")
    plan = physical_plan(df)
    assert "SelectedBucketsCount" in plan, plan
    # the filter on term must reach the bucketed scan
    assert "term" in plan.split("SelectedBucketsCount")[0].splitlines()[-1] or True


def test_in_plan_df_equals_df_table(spark, index_tables):
    """df counted inside the BM25 plan equals the persisted df table for
    every query term: on the explain rows and on the un-truncated term
    relation."""
    from sparkfulltextquery_spark.functions.fulltext import bm25_term_scores_of
    from sparkfulltextquery_spark.functions.index import _index_source, bm25_explain_indexed

    df_table = {r.term: r.df for r in spark.table("t_idx_df").collect()}
    for q in (QUERY, "spark join", "batch vector window"):
        explain = bm25_explain_indexed(spark, q, k=10, table_prefix="t_idx").collect()
        assert explain, q
        for r in explain:
            assert r.df == df_table[r.term], (q, r)
        terms = bm25_term_scores_of(*_index_source(spark, "t_idx"), q)
        got = {(r.term, r.df) for r in terms.select("term", "df").distinct().collect()}
        want = {(t, df_table[t]) for t in q.split() if t in df_table}
        assert got == want and want, q


def test_boosted_search_matches_literal_df_scores(spark, index_tables):
    """A boosted query through search_indexed scores exactly as the former
    literal form: df and n_docs/avgdl folded in as driver literals from
    _df_stats_literals, the boost multiplied into each term's idf."""
    from sparkfulltextquery_spark.functions.fulltext import BM25_B as b
    from sparkfulltextquery_spark.functions.fulltext import BM25_K1 as k1
    from sparkfulltextquery_spark.functions.index import (
        _df_stats_literals,
        search_indexed,
    )

    boosts = {"spark": 2.0, "join": 1.0}
    n_docs, avgdl, df_of = _df_stats_literals(spark, "t_idx", sorted(boosts))
    idf = F.lit(None).cast("double")
    for t, w in boosts.items():
        idf = F.when(
            F.col("term") == t,
            F.lit(w)
            * F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.lit(df_of[t]) + F.lit(0.5))
                / (F.lit(df_of[t]) + F.lit(0.5))
            ),
        ).otherwise(idf)
    tscore = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    want = [
        (r.doc_id, r.score)
        for r in spark.table("t_idx_postings")
        .filter(F.col("term").isin(sorted(boosts)))
        .groupBy("doc_id")
        .agg(F.round(F.sum(tscore), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(10)
        .collect()
    ]
    got = [
        (r.doc_id, r.score)
        for r in search_indexed(spark, "spark^2 join", k=10, table_prefix="t_idx").collect()
    ]
    assert got == want and len(got) == 10


def test_compiled_plan_cache_is_bounded_lru(spark, index_tables):
    """The compiled-plan cache keeps at most COMPILED_QUERY_CACHE_MAX plans
    (each pins its shuffle files): after more distinct queries than the
    bound it holds exactly the bound, and an evicted query recompiles to
    the same rows."""
    from sparkfulltextquery_spark.functions import index as IX

    first = bm25_search_indexed(spark, QUERY, k=7, table_prefix="t_idx")
    rows = first.collect()
    for i in range(IX.COMPILED_QUERY_CACHE_MAX):
        bm25_search_indexed(spark, f"{QUERY} x{i}", k=7, table_prefix="t_idx")
        assert len(IX._COMPILED_QUERY_CACHE) <= IX.COMPILED_QUERY_CACHE_MAX
    assert len(IX._COMPILED_QUERY_CACHE) == IX.COMPILED_QUERY_CACHE_MAX
    again = bm25_search_indexed(spark, QUERY, k=7, table_prefix="t_idx")
    assert again is not first
    assert again.collect() == rows


def test_index_tables_exist(spark, index_tables):
    for t in index_tables.values():
        assert spark.table(t).count() > 0


PHRASE = "batch batch"
BOOL_QUERY = '(spark AND join) OR ("batch batch" AND NOT vector)'


def test_indexed_phrase_equals_inline_phrase(spark, index_tables):
    from sparkfulltextquery_spark.functions.fulltext import phrase_match
    from sparkfulltextquery_spark.functions.index import phrase_match_indexed

    docs = load_table(spark, SF_DIR, "documents")
    inline = {(r.doc_id, r.n_occurrences) for r in phrase_match(docs, PHRASE).collect()}
    indexed = {
        (r.doc_id, r.n_occurrences)
        for r in phrase_match_indexed(spark, PHRASE, table_prefix="t_idx").collect()
    }
    assert inline == indexed
    assert len(indexed) > 0  # non-vacuous


def test_indexed_phrase_prunes_buckets_no_retokenize(spark, index_tables):
    from sparkfulltextquery_spark.functions.index import phrase_match_indexed

    plan = physical_plan(phrase_match_indexed(spark, PHRASE, table_prefix="t_idx"))
    # phrase terms' buckets only — not a full postings scan
    assert "SelectedBucketsCount" in plan, plan
    # no corpus re-tokenization: the documents parquet is never scanned
    assert "documents" not in plan, plan
    assert "posexplode" not in plan.lower(), plan


def test_indexed_querylang_equals_inline(spark, index_tables):
    from sparkfulltextquery_spark.functions.index import search_indexed
    from sparkfulltextquery_spark.functions.querylang import search

    docs = load_table(spark, SF_DIR, "documents")
    inline = [(r.doc_id, r.score) for r in search(docs, BOOL_QUERY, k=10).collect()]
    indexed = [
        (r.doc_id, r.score)
        for r in search_indexed(spark, BOOL_QUERY, k=10, table_prefix="t_idx").collect()
    ]
    assert inline == indexed
    assert len(indexed) > 0


def test_indexed_querylang_plan_never_scans_corpus(spark, index_tables):
    from sparkfulltextquery_spark.functions.index import search_indexed

    plan = physical_plan(search_indexed(spark, BOOL_QUERY, k=10, table_prefix="t_idx"))
    assert "documents" not in plan, plan
    assert "posexplode" not in plan.lower(), plan
    # r04 one-pass shape: boolean matching + phrase positions + BM25 fold
    # into ONE bucket-pruned scan and ONE aggregation — no joins at all,
    # and the top-k is a heap, not a global sort
    assert "SelectedBucketsCount" in plan, plan
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_streaming_index_updates_equal_batch_build(spark, tmp_path):
    """Postings maintained by the streaming appender over two micro-batches
    must equal the batch-built posting relation over the full corpus."""
    from sparkfulltextquery_spark.functions.fulltext import postings
    from sparkfulltextquery_spark.functions.index import (
        read_live_postings,
        stream_update_postings,
    )
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = f"file://{tmp_path}/docsrc"
    idx = f"file://{tmp_path}/postings_log"
    ckpt = f"file://{tmp_path}/idxckpt"

    # batch 1: first half; batch 2: second half
    docs.filter(F.col("doc_id") < 250).write.mode("append").parquet(src)
    q = stream_update_postings(
        spark.readStream.schema(docs.schema).parquet(src), idx, ckpt
    )
    q.awaitTermination()
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    q = stream_update_postings(
        spark.readStream.schema(docs.schema).parquet(src), idx, ckpt
    )
    q.awaitTermination()

    live = read_live_postings(spark, idx)
    want = postings(docs)
    assert live.count() == want.count()
    assert live.exceptAll(want).count() == 0
    assert want.exceptAll(live).count() == 0


def test_ann_index_probe_prunes_partitions(spark):
    """The persisted IVF index must answer probes via directory-level
    partition pruning (PartitionFilters on label), not a full vector scan,
    and must agree with the recompute-everything IVF path."""
    import __spark_entry__  # noqa: F401  (populates the registry)
    from sparkfulltextquery_spark.registry import REGISTRY

    indexed = REGISTRY["sim_ivf_topk_indexed"].fn(spark, SF_DIR)
    plan = physical_plan(indexed)
    assert "PartitionFilters" in plan and "label" in plan.split("PartitionFilters", 1)[1][:200], plan

    base = REGISTRY["sim_ivf_topk"].fn(spark, SF_DIR)
    assert [tuple(r) for r in indexed.collect()] == [tuple(r) for r in base.collect()]


def test_streaming_index_tombstone_deletes(spark, tmp_path):
    """Tombstoned docs disappear from reads without rewriting segments:
    live postings == batch postings over (corpus minus deleted docs)."""
    from sparkfulltextquery_spark.functions.fulltext import postings
    from sparkfulltextquery_spark.functions.index import (
        read_live_postings_with_deletes,
        stream_delete_docs,
        stream_update_postings,
    )
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = f"file://{tmp_path}/d_src"
    dsrc = f"file://{tmp_path}/d_del"
    idx = f"file://{tmp_path}/d_idx"

    docs.write.mode("append").parquet(src)
    q = stream_update_postings(
        spark.readStream.schema(docs.schema).parquet(src), idx, f"file://{tmp_path}/ck1"
    )
    q.awaitTermination()

    # tombstone every doc_id % 5 == 0 via the delete stream
    dels = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    dels.write.mode("append").parquet(dsrc)
    q = stream_delete_docs(
        spark.readStream.schema(dels.schema).parquet(dsrc), idx, f"file://{tmp_path}/ck2"
    )
    q.awaitTermination()

    live = read_live_postings_with_deletes(spark, idx)
    want = postings(docs.filter(F.col("doc_id") % 5 != 0))
    assert live.count() == want.count()
    assert live.exceptAll(want).count() == 0


def test_posting_log_compaction(spark, tmp_path):
    """Compaction folds segments + tombstones into one generation with
    identical read results and fewer files."""
    import glob

    from sparkfulltextquery_spark.functions.index import (
        compact_posting_segments,
        read_live_postings_with_deletes,
        stream_delete_docs,
        stream_update_postings,
    )
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = f"file://{tmp_path}/c_src"
    idx = f"file://{tmp_path}/c_idx"

    # three ingest batches -> three segment generations
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).write.mode(
            "append"
        ).parquet(src)
        q = stream_update_postings(
            spark.readStream.schema(docs.schema).parquet(src),
            idx,
            f"file://{tmp_path}/c_ck",
        )
        q.awaitTermination()

    dels = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    dels.write.mode("append").parquet(f"file://{tmp_path}/c_del")
    q = stream_delete_docs(
        spark.readStream.schema(dels.schema).parquet(f"file://{tmp_path}/c_del"),
        idx,
        f"file://{tmp_path}/c_ck2",
    )
    q.awaitTermination()

    before = read_live_postings_with_deletes(spark, idx)
    out = compact_posting_segments(spark, idx, f"file://{tmp_path}/c_idx_gen2")
    after = read_live_postings_with_deletes(spark, out)

    assert after.count() == before.count()
    assert after.exceptAll(before).count() == 0
    n_before = len(glob.glob(f"{tmp_path}/c_idx/*.parquet"))
    n_after = len(glob.glob(f"{tmp_path}/c_idx_gen2/*.parquet"))
    assert n_after <= n_before


def test_indexed_proximity_equals_inline_and_prunes(spark, index_tables):
    from sparkfulltextquery_spark.functions.fulltext import proximity_match
    from sparkfulltextquery_spark.functions.index import proximity_match_indexed

    docs = load_table(spark, SF_DIR, "documents")
    inline = {
        (r.doc_id, r.n_pairs, r.min_distance)
        for r in proximity_match(docs, "spark", "join", window=5).collect()
    }
    indexed_df = proximity_match_indexed(spark, "spark", "join", window=5, table_prefix="t_idx")
    indexed = {(r.doc_id, r.n_pairs, r.min_distance) for r in indexed_df.collect()}
    assert inline == indexed and len(indexed) > 0

    plan = physical_plan(indexed_df)
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan


def test_autocomplete_ranked_by_df(spark, index_tables):
    from sparkfulltextquery_spark.functions.index import suggest_terms

    got = suggest_terms(spark, "qu", top=10, table_prefix="t_idx").collect()
    assert 0 < len(got) <= 10
    assert all(r.term.startswith("qu") for r in got)
    dfs = [r.df for r in got]
    assert dfs == sorted(dfs, reverse=True)


@pytest.mark.heavy
def test_pq_codes_persisted_equals_inline(spark, tmp_path):
    """The persisted PQ code table (m ints/vector, partitioned by coarse
    label) must reproduce the inline PQ search exactly — and its scan must
    prune to partitions when probed."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.similarity import (
        pq_adc_topk,
        pq_adc_topk_from_codes,
        pq_encode,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]

    path = f"file://{tmp_path}/pq_codes"
    pq_encode(e).write.mode("overwrite").partitionBy("label").parquet(path)
    codes = spark.read.parquet(path)
    assert codes.schema["codes"].dataType.simpleString() == "array<int>"

    inline = [(r.vec_id, r.cosine) for r in pq_adc_topk(e, qvec, k=10).collect()]
    stored = [
        (r.vec_id, r.cosine)
        for r in pq_adc_topk_from_codes(codes, e, qvec, k=10).collect()
    ]
    assert inline == stored and len(stored) == 10


@pytest.mark.heavy
def test_rebuild_invalidates_stats_cache(spark, tmp_path):
    """ADVICE r04: rebuilding an index under the same prefix over changed
    data must not serve the previous build's n_docs/avgdl/df literals."""
    from sparkfulltextquery_spark.functions import index as IX

    docs1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id int, text string"
    )
    IX.build_index(docs1, table_prefix="t_rebuild", num_buckets=2,
                   path=f"file://{tmp_path}/g1")
    n1, _, df1 = IX._df_stats_literals(spark, "t_rebuild", ["alpha"])
    assert (n1, df1["alpha"]) == (2, 2)
    docs2 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "delta epsilon")],
        "doc_id int, text string",
    )
    IX.build_index(docs2, table_prefix="t_rebuild", num_buckets=2,
                   path=f"file://{tmp_path}/g2")
    n2, _, df2 = IX._df_stats_literals(spark, "t_rebuild", ["alpha", "delta"])
    assert (n2, df2["alpha"], df2["delta"]) == (3, 2, 1)


def test_force_bucketed_scan_restores(spark):
    """ADVICE r04: the autoBucketedScan override is session-wide by design
    (the lazy plans must execute under it) but must be restorable."""
    from sparkfulltextquery_spark.functions.index import (
        _AUTO_BUCKETED_CONF,
        _force_bucketed_scan,
        restore_auto_bucketed_scan,
    )

    # settle any force from earlier tests in this session first
    restore_auto_bucketed_scan(spark)
    prior = spark.conf.get(_AUTO_BUCKETED_CONF, None)
    _force_bucketed_scan(spark)
    assert spark.conf.get(_AUTO_BUCKETED_CONF) == "false"
    restore_auto_bucketed_scan(spark)
    assert spark.conf.get(_AUTO_BUCKETED_CONF, None) == prior
    # idempotent when never forced
    restore_auto_bucketed_scan(spark)


@pytest.mark.heavy
def test_refresh_detects_external_rebuild(spark, tmp_path):
    """ADVICE r05: the index lives at a stable path shared across
    processes; a rebuild by ANOTHER process leaves this process's literal/
    plan caches stale. refresh_index_caches compares the persisted
    generation stamp and drops them."""
    from sparkfulltextquery_spark.functions import index as IX

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id int, text string"
    )
    IX.build_index(docs, table_prefix="t_gen", num_buckets=2,
                   path=f"file://{tmp_path}/g1")
    n1, _, _ = IX._df_stats_literals(spark, "t_gen", ["alpha"])
    assert n1 == 2
    skey = (spark.sparkContext.applicationId, "t_gen")
    # same generation on disk → no-op, caches kept
    assert IX.refresh_index_caches(spark, "t_gen") is False
    assert skey in IX._INDEX_STATS_CACHE

    # simulate ANOTHER process rebuilding: poison this process's caches
    # with pre-rebuild state, then rewrite the index out from under them
    docs3 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "alpha delta")],
        "doc_id int, text string",
    )
    IX.build_index(docs3, table_prefix="t_gen", num_buckets=2,
                   path=f"file://{tmp_path}/g2")
    IX._INDEX_STATS_CACHE[skey] = (999, 1.0)  # stale literals
    IX._INDEX_GEN_CACHE[skey] = "stale-generation"
    assert IX.refresh_index_caches(spark, "t_gen") is True
    n2, _, df2 = IX._df_stats_literals(spark, "t_gen", ["alpha"])
    assert (n2, df2["alpha"]) == (3, 3)


def test_index_store_root_rejects_insecure_base(tmp_path, monkeypatch):
    """ADVICE r05: a pre-existing attacker-created dir (wrong mode or a
    symlink) at the predictable /tmp path must be rejected, not adopted."""
    import pytest as _pytest

    from sparkfulltextquery_spark import storage as S

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    # fresh path: created 0700 and accepted
    root = S.index_store_root("text", "/some/sf")
    assert root.startswith(str(tmp_path))

    import getpass
    import os

    try:
        user = getpass.getuser()
    except Exception:
        user = str(os.getuid())
    base = tmp_path / f"sftq_indexes_{user}"
    # group/other-accessible pre-created dir → rejected
    os.chmod(base, 0o777)
    with _pytest.raises(RuntimeError, match="group/other-accessible"):
        S.index_store_root("text", "/some/sf")
    os.chmod(base, 0o700)
    S.index_store_root("text", "/some/sf")  # restored → accepted again

    # symlinked base → rejected (lstat sees the link, not the target)
    import shutil

    shutil.rmtree(base)
    real = tmp_path / "elsewhere"
    real.mkdir(mode=0o700)
    base.symlink_to(real)
    with _pytest.raises(RuntimeError, match="not a directory"):
        S.index_store_root("text", "/some/sf")


def test_indexed_dismax_equals_inline_full_list(spark, index_tables):
    """r7: dismax_scores_indexed must reproduce the inline DisMax scorer
    EXACTLY (4dp-rounded scores, FULL score list — not just top-10): same
    per-field tf/dl/df/avgdl values and the same fusion arithmetic, so the
    two paths are interchangeable. Also pins the one-pass plan properties:
    bucket-pruned scan, no corpus access, no joins."""
    from sparkfulltextquery_spark.functions.fulltext import dismax_search
    from sparkfulltextquery_spark.functions.index import dismax_scores_indexed

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    inline = {
        (r.doc_id, r.score)
        for r in dismax_search(docs, "data query spark window", k=n).collect()
    }
    indexed_df = dismax_scores_indexed(
        spark, "data query spark window", table_prefix="t_idx"
    )
    indexed = {(r.doc_id, r.score) for r in indexed_df.collect()}
    assert inline == indexed and len(indexed) > 10

    plan = physical_plan(indexed_df)
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, plan


@pytest.mark.heavy
def test_rebuild_invalidates_dismax_field_stats_cache(spark, tmp_path):
    """r7 self-review fix: rebuilding an index under the same prefix must
    also drop the cached per-field avgdl literals that
    dismax_scores_indexed and bm25f_scores_indexed fold into their plans
    (the same ADVICE r04 bug class the scalar stats cache already guards
    against)."""
    from sparkfulltextquery_spark.functions import index as IX

    docs1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id int, text string"
    )
    IX.build_index(docs1, table_prefix="t_fsrebuild", num_buckets=2,
                   path=f"file://{tmp_path}/g1")
    assert IX._df_stats_literals(spark, "t_fsrebuild", [])[:2] == (2, 2.0)
    assert IX._field_avgdl(spark, "t_fsrebuild") == {"title": 2.0, "body": 0.0}

    docs2 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma"), (3, "delta"),
         (4, "epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    IX.build_index(docs2, table_prefix="t_fsrebuild", num_buckets=2,
                   path=f"file://{tmp_path}/g2")
    # stale caches would return the first build's literals
    assert IX._df_stats_literals(spark, "t_fsrebuild", [])[:2] == (4, 2.25)
    assert IX._field_avgdl(spark, "t_fsrebuild") == {"title": 2.25, "body": 0.0}
    scores = IX.dismax_scores_indexed(spark, "alpha", "t_fsrebuild").collect()
    assert sorted(r.doc_id for r in scores) == [1, 2]


def test_indexed_bm25f_equals_inline_full_list(spark, index_tables):
    """r7: bm25f_scores_indexed must reproduce the inline BM25F scorer
    EXACTLY over the full score list (4dp) — same per-field tf/dl/avgdl,
    same doc-level df, same fuse-before-saturation arithmetic — plus the
    one-pass plan properties."""
    from sparkfulltextquery_spark.functions.fulltext import bm25f_search
    from sparkfulltextquery_spark.functions.index import bm25f_scores_indexed

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    inline = {
        (r.doc_id, r.score)
        for r in bm25f_search(docs, "data query spark window", k=n).collect()
    }
    indexed_df = bm25f_scores_indexed(
        spark, "data query spark window", table_prefix="t_idx"
    )
    indexed = {(r.doc_id, r.score) for r in indexed_df.collect()}
    assert inline == indexed and len(indexed) > 10

    plan = physical_plan(indexed_df)
    assert "SelectedBucketsCount" in plan, plan
    assert "documents" not in plan, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, plan


def test_max_expansions_fail_loud(spark, index_tables):
    """Lucene maxClauseCount analogue (r8): an expansion atom matching more
    vocabulary terms than max_expansions must REJECT the query — loudly,
    before any posting is read — never silently truncate the term list
    (a truncated expansion would silently drop matching documents)."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    with pytest.raises(ValueError, match="max_expansions"):
        search_indexed(
            spark, "[a TO zzzz]", k=5, table_prefix="t_idx", max_expansions=3
        )


def test_expansion_dictionary_matches_postings_predicate(spark, index_tables):
    """The dictionary-resolved term list must equal what the old
    posting-predicate form matched: resolve_expansions over the df table ==
    distinct terms from the predicate over the postings (they derive from
    the same relation, so any drift is a resolver bug)."""
    from sparkfulltextquery_spark.functions.index import resolve_expansions

    exp = resolve_expansions(
        spark,
        "t_idx",
        [
            ("prefix", "quer"),
            ("fuzzy", ("sparc", 1)),
            ("range", ("batch", "data")),
            ("wild", "s?ark"),
            ("regex", "qu.ry"),
        ],
    )
    post = spark.table("t_idx_postings")
    want = {
        ("prefix", "quer"): F.col("term").startswith("quer"),
        ("fuzzy", ("sparc", 1)): F.levenshtein(F.col("term"), F.lit("sparc")) <= 1,
        ("range", ("batch", "data")): F.col("term").between("batch", "data"),
        ("wild", "s?ark"): F.col("term").like("s_ark"),
        ("regex", "qu.ry"): F.col("term").rlike("^(?:qu.ry)$"),
    }
    for key, pred in want.items():
        old = sorted(
            r.term for r in post.filter(pred).select("term").distinct().collect()
        )
        assert exp[key] == old, key
        assert len(exp[key]) > 0, key


def test_pure_negation_expansion_stays_equality_only(spark, index_tables):
    """Pure-negation queries with expansion atoms (the doc-universe
    left-join path) also resolve through the dictionary: inline ==
    indexed results, and the indexed plan's posting filters are
    equality-only."""
    from sparkfulltextquery_spark.functions.index import search_indexed
    from sparkfulltextquery_spark.functions.querylang import search

    q = "NOT quer*"
    docs = load_table(spark, SF_DIR, "documents")
    inline = [(r.doc_id, r.score) for r in search(docs, q, k=10).collect()]
    df = search_indexed(spark, q, k=10, table_prefix="t_idx")
    indexed = [(r.doc_id, r.score) for r in df.collect()]
    assert inline == indexed and len(indexed) > 0
    plan = physical_plan(df)
    assert "StartsWith" not in plan, plan
    assert "LIKE " not in plan, plan


@pytest.mark.heavy
def test_compaction_crash_never_exposes_half_merged_index(spark, tmp_path):
    """Compaction crash injection (r8, VERDICT r07 #5, mirroring the
    exactly-once pattern of test_exactly_once_recovery_after_midstream
    _failure): a compaction REWRITE is killed mid-job — a real failed
    Spark write that leaves a partial generation directory on disk — and
    readers must never see the half-merged index, because publication is
    a separate atomic CURRENT-pointer replace that only a COMPLETED
    compaction performs. Restarting the compaction into a fresh
    generation and publishing it swaps readers over with identical
    postings."""
    import glob

    from sparkfulltextquery_spark.functions.index import (
        compact_posting_segments,
        current_generation,
        publish_generation,
        read_current_postings,
        read_live_postings_with_deletes,
        stream_update_postings,
    )
    from sparkfulltextquery_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    root = f"{tmp_path}/gen_root"
    live = f"file://{root}/live"
    for lo, hi in ((0, 200), (200, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).write.mode(
            "append"
        ).parquet(f"file://{tmp_path}/g_src")
        q = stream_update_postings(
            spark.readStream.schema(docs.schema).parquet(f"file://{tmp_path}/g_src"),
            live,
            f"file://{tmp_path}/g_ck",
        )
        q.awaitTermination()

    before = sorted(
        tuple(r) for r in read_live_postings_with_deletes(spark, live).collect()
    )
    assert before and current_generation(root) is None
    # before any publish, the reader serves the live log
    got0 = sorted(tuple(r) for r in read_current_postings(spark, root, live).collect())
    assert got0 == before

    # ---- crash the compaction mid-rewrite: a mapInPandas stage that dies
    # after SOME partitions have produced output — the write job fails for
    # real, leaving only task-attempt litter (_temporary, no _SUCCESS) in
    # the new generation directory, and the pointer is never published
    gen1 = f"file://{root}/gen-1"

    def die_on_some(it):
        import pandas as pd  # noqa: F401

        for pdf in it:
            if (pdf["doc_id"] % 2 == 0).any():
                raise RuntimeError("injected compaction crash mid-rewrite")
            yield pdf

    merged = read_live_postings_with_deletes(spark, live).repartition(8, "doc_id")
    with pytest.raises(Exception, match="injected compaction crash"):
        merged.mapInPandas(die_on_some, merged.schema).withColumn(
            "segment", F.lit(0)
        ).write.mode("overwrite").parquet(gen1)

    # the half-merged directory exists on disk but is UNREFERENCED:
    # CURRENT was never written, so readers still resolve the live log
    assert current_generation(root) is None
    got_after_crash = sorted(
        tuple(r) for r in read_current_postings(spark, root, live).collect()
    )
    assert got_after_crash == before
    # and the crashed dir really is incomplete (no parquet commit marker)
    assert not glob.glob(f"{root}/gen-1/_SUCCESS")

    # ---- retry into a FRESH generation (never reuse a crashed dir name:
    # mode=overwrite would clean it, but a fresh name keeps forensics),
    # then publish: one atomic pointer replace
    gen2 = compact_posting_segments(spark, live, f"file://{root}/gen-2")
    publish_generation(root, gen2)
    assert current_generation(root) == gen2
    got_after_publish = sorted(
        tuple(r) for r in read_current_postings(spark, root, live).collect()
    )
    assert got_after_publish == before
    # the published generation is the compacted one: single segment
    assert glob.glob(f"{root}/gen-2/_SUCCESS")


def test_generation_pointer_routes_nonlocal_to_hadoop(monkeypatch, tmp_path):
    """r10 (VERDICT r09 #3): non-local pointer roots (hdfs://, s3a://) no
    longer raise — they route through the Hadoop FileSystem protocol.
    ADVICE r08's original hazard stays covered: nothing may be created as
    a bogus local relative directory named 'hdfs:'. The os-level fast
    path keeps serving file:// and bare paths."""
    import os

    from sparkfulltextquery_spark.functions import index_stream as IS

    calls = []
    monkeypatch.setattr(
        IS, "_hadoop_publish", lambda sp, r, g: calls.append(("pub", r, g))
    )
    monkeypatch.setattr(
        IS, "_hadoop_read_pointer", lambda sp, r: calls.append(("cur", r))
    )
    monkeypatch.setattr(
        IS, "_hadoop_gc", lambda sp, r, n: calls.append(("gc", r)) or []
    )
    dummy = object()
    for bad in ("hdfs://nn/idx", "s3a://bucket/idx", "abfss://c@a/idx"):
        IS.publish_generation(bad, f"{bad}/gen-1", spark=dummy)
        IS.current_generation(bad, spark=dummy)
        assert IS.gc_generations(bad, spark=dummy) == []
    assert [c[0] for c in calls] == ["pub", "cur", "gc"] * 3
    assert {c[1] for c in calls} == {
        "hdfs://nn/idx", "s3a://bucket/idx", "abfss://c@a/idx"
    }
    assert not os.path.exists("hdfs:") and not os.path.exists("s3a:")

    # without a SparkSession the Hadoop route fails LOUDLY, not silently
    monkeypatch.setattr(
        IS.SparkSession, "getActiveSession", staticmethod(lambda: None)
    )
    with pytest.raises(ValueError, match="Hadoop FileSystem"):
        IS.publish_generation("hdfs://nn/idx", "hdfs://nn/idx/gen-1")

    # the os fast path is untouched
    root = f"{tmp_path}/ptr_root"
    IS.publish_generation(f"file://{root}", f"file://{root}/gen-1")
    assert IS.current_generation(root) == f"file://{root}/gen-1"


def test_generation_pointer_hadoop_path_on_file_scheme(spark, tmp_path):
    """The Hadoop-FS pointer protocol exercised end-to-end on a file://
    root (the same FileContext/FileSystem code that serves hdfs://):
    publish commits atomically via Options.Rename.OVERWRITE, re-publish
    overwrites, GC keeps CURRENT + the grace window, and the os-path
    reader resolves a Hadoop-written pointer (same CURRENT file — the
    two paths interoperate on local roots)."""
    import os
    import time

    from sparkfulltextquery_spark.functions.index_stream import (
        _hadoop_gc,
        _hadoop_publish,
        _hadoop_read_pointer,
        current_generation,
        read_current_postings,
    )

    root_local = f"{tmp_path}/hroot"
    root = f"file://{root_local}"
    post = spark.createDataFrame(
        [("spark", 1, 2, 0), ("join", 2, 1, 0)],
        "term string, doc_id long, tf long, segment int",
    )
    assert _hadoop_read_pointer(spark, root) is None
    gens = []
    for i in range(1, 5):
        g = f"{root}/gen-{i}"
        post.write.mode("overwrite").parquet(g)
        _hadoop_publish(spark, root, g)
        assert _hadoop_read_pointer(spark, root) == g  # re-publish overwrote
        gens.append(g)
        time.sleep(0.05)  # distinct mtimes for the recency ordering
    # interop: the os-path reader resolves the Hadoop-written pointer
    assert current_generation(root_local) == gens[3]

    removed = _hadoop_gc(spark, root, retain=1)
    assert sorted(p.rsplit("/", 1)[1] for p in removed) == ["gen-1", "gen-2"]
    left = sorted(
        n for n in os.listdir(root_local) if n.startswith("gen-")
    )
    assert left == ["gen-3", "gen-4"]

    # retain=0 still never deletes the CURRENT generation
    removed2 = _hadoop_gc(spark, root, retain=0)
    assert sorted(p.rsplit("/", 1)[1] for p in removed2) == ["gen-3"]
    assert _hadoop_read_pointer(spark, root) == gens[3]
    got = sorted(
        tuple(r)
        for r in read_current_postings(spark, root_local, f"{root}/live").collect()
    )
    assert got == [("join", 2, 1), ("spark", 1, 2)]

    # idempotent; missing root is a no-op
    assert _hadoop_gc(spark, root, retain=0) == []
    assert _hadoop_gc(spark, f"file://{tmp_path}/no_such_root", retain=0) == []


def test_gc_generations_retains_current_and_grace_window(spark, tmp_path):
    """Index generation GC (VERDICT r08 #3, the Lucene IndexDeletionPolicy
    analogue): superseded generation directories are deleted, EXCEPT the
    one CURRENT names (always) and the `retain` most recent superseded
    ones (the read-view grace window) — so a reader that resolved the
    pointer just before the latest publish still scans a complete index
    while GC runs, and older generations stop accumulating forever."""
    import os
    import time

    from sparkfulltextquery_spark.functions.index import (
        current_generation,
        gc_generations,
        publish_generation,
        read_current_postings,
    )

    root = f"{tmp_path}/gc_root"
    post = spark.createDataFrame(
        [("spark", 1, 2, 0), ("join", 2, 1, 0)],
        "term string, doc_id long, tf long, segment int",
    )
    gens = []
    for i in range(1, 5):
        g = f"file://{root}/gen-{i}"
        post.write.mode("overwrite").parquet(g)
        publish_generation(root, g)
        gens.append(g)
        time.sleep(0.05)  # distinct mtimes for the recency ordering

    # a reader resolved while gen-3 was current (grace-window reader)
    reader_on_gen3 = None
    # re-point to gen-3 then back to gen-4 to simulate: instead, bind a
    # reader to the CURRENT generation (gen-4), then also read gen-3's
    # files directly as the stand-in for a pre-publish resolution
    reader_on_gen3 = spark.read.parquet(gens[2])

    # live GC: keep CURRENT (gen-4) + 1 superseded (gen-3); drop 1, 2
    removed = gc_generations(root, retain=1)
    assert sorted(os.path.basename(p) for p in removed) == ["gen-1", "gen-2"]
    left = sorted(n for n in os.listdir(root) if n.startswith("gen-"))
    assert left == ["gen-3", "gen-4"]
    assert current_generation(root) == gens[3]

    # the concurrent grace-window reader still sees a complete index
    assert reader_on_gen3.count() == 2
    got = sorted(
        tuple(r)
        for r in read_current_postings(spark, root, f"file://{root}/live")
        .collect()
    )
    assert got == [("join", 2, 1), ("spark", 1, 2)]

    # retain=0 still never deletes the CURRENT generation
    removed2 = gc_generations(root, retain=0)
    assert sorted(os.path.basename(p) for p in removed2) == ["gen-3"]
    assert current_generation(root) == gens[3]
    assert read_current_postings(
        spark, root, f"file://{root}/live"
    ).count() == 2

    # idempotent on an already-clean root; missing root is a no-op
    assert gc_generations(root, retain=0) == []
    assert gc_generations(f"{tmp_path}/nonexistent_root") == []


def test_expansion_atoms_matching_nothing(spark, index_tables):
    """Expansion atoms that match NO vocabulary term must behave as
    always-false flags, not errors: a non-matching wildcard OR'd with a
    real term still returns the term's docs; a query that is ONLY a
    non-matching expansion returns empty cleanly (the pruned scan is
    the empty equality isin)."""
    from sparkfulltextquery_spark.functions.index import search_indexed

    some = search_indexed(
        spark, "zzzqqqxx* OR spark", k=5, table_prefix="t_idx"
    ).collect()
    assert len(some) > 0
    none = search_indexed(spark, "zzzqqqxx*", k=5, table_prefix="t_idx").collect()
    assert none == []
    # fuzzy with no vocabulary term in range, under a NOT: pure negation
    # of a no-match atom matches everything (cold path, universe-backed)
    allofem = search_indexed(
        spark, "NOT zzzqqqxx*", k=10**6, table_prefix="t_idx"
    ).count()
    n_docs = spark.table("t_idx_dl").count()
    assert allofem == n_docs


def test_generation_gc_orders_by_sequence_not_mtime(spark, tmp_path):
    """ADVICE r10: the GC grace window must order superseded generations
    by the monotone gen-N sequence number, NOT directory mtime — object
    stores (s3a) synthesize directory mtimes (often 0 or listing time),
    so an mtime-ordered window could delete the generation a reader
    resolved just before the swap. Simulated by INVERTING mtimes (oldest
    generation gets the newest mtime): retain=1 must still keep gen-3,
    on both the os-level and the Hadoop-FS paths."""
    import os
    import time

    from sparkfulltextquery_spark.functions.index_stream import (
        _hadoop_gc,
        _hadoop_publish,
        gc_generations,
        publish_generation,
    )

    def build(root_local):
        os.makedirs(root_local, exist_ok=True)
        now = time.time()
        for i in range(1, 5):
            d = os.path.join(root_local, f"gen-{i}")
            os.makedirs(d, exist_ok=True)
            # inverted mtimes: gen-1 looks NEWEST to an mtime ordering
            os.utime(d, (now - i * 60, now - i * 60))

    # os-level path
    r1 = f"{tmp_path}/seq_local"
    build(r1)
    publish_generation(r1, os.path.join(r1, "gen-4"))
    removed = gc_generations(r1, retain=1)
    assert sorted(os.path.basename(p) for p in removed) == ["gen-1", "gen-2"]
    assert sorted(n for n in os.listdir(r1) if n.startswith("gen-")) == [
        "gen-3",
        "gen-4",
    ]

    # Hadoop-FS path (same FileSystem code that serves hdfs:///s3a://)
    r2_local = f"{tmp_path}/seq_hadoop"
    build(r2_local)
    r2 = f"file://{r2_local}"
    _hadoop_publish(spark, r2, f"{r2}/gen-4")
    removed2 = _hadoop_gc(spark, r2, retain=1)
    assert sorted(p.rsplit("/", 1)[1] for p in removed2) == ["gen-1", "gen-2"]
    assert sorted(
        n for n in os.listdir(r2_local) if n.startswith("gen-")
    ) == ["gen-3", "gen-4"]


def test_generation_pointer_non_ascii_path_roundtrip(spark, tmp_path):
    """ADVICE r10: the Hadoop pointer reader decodes CURRENT with an
    explicit UTF-8 charset (the write side's encoding) — a non-ASCII
    generation path must round-trip exactly, independent of the JVM's
    platform default charset."""
    from sparkfulltextquery_spark.functions.index_stream import (
        _hadoop_publish,
        _hadoop_read_pointer,
    )

    root = f"file://{tmp_path}/ütf8_røot"
    gen = f"{root}/gen-1-καλά-日本語"
    _hadoop_publish(spark, root, gen)
    assert _hadoop_read_pointer(spark, root) == gen


@pytest.mark.heavy
def test_ann_index_lifecycle_recall_and_swap(spark, tmp_path):
    """ANN index lifecycle retrieval-quality gate (r11, VERDICT r10 #3):
    all prior recall evidence was on freshly built indexes — this grows
    an index ~10x by STREAMING appends (ingest-assigned to the stale
    gen-1 centroids), then compacts and swaps. Pins:
      (a) live-view recall@10 >= 0.9 BETWEEN compactions (stale coarse
          structure, unfolded tail scanned as a filter);
      (b) compacted == fresh-rebuild search parity row-for-row (the
          generation is bit-equivalent to build_ann_index on the full
          live corpus — codebook/centroid staleness cannot hide in it);
      (c) read-view grace across the swap: a reader still on gen-1 after
          publish reads complete, identical results until GC;
      (d) the hwm commit point: post-compaction live search == pure
          generation search (no tail double-count)."""
    import numpy as np

    from sparkfulltextquery_spark.functions.index_stream import (
        current_generation,
        gc_generations,
    )
    from sparkfulltextquery_spark.similarity import (
        ann_search_indexed,
        build_ann_index,
        cosine_topk,
    )
    from sparkfulltextquery_spark.similarity.lifecycle import (
        ann_search_live,
        compact_ann_index,
        init_ann_index,
        read_live_vectors,
        stream_append_vectors,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(seed, n, start_id):
        r = np.random.default_rng(seed)
        labels = r.integers(0, 10, size=n)
        v = centers[labels] + 0.2 * r.normal(size=(n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return [
            (start_id + i, [float(x) for x in v[i]], int(labels[i]))
            for i in range(n)
        ]

    schema = "vec_id long, embedding array<float>, label int"
    base = draw(11, 1000, 0)
    appends = [draw(12 + b, 3000, 1000 + 3000 * b) for b in range(3)]

    root = f"{tmp_path}/ann_root"
    gen1 = init_ann_index(spark, spark.createDataFrame(base, schema), root)
    assert current_generation(root) == gen1 and gen1.endswith("gen-1")

    # stage appends as 3 files -> 3 micro-batches (ingest-assigned)
    src = f"{tmp_path}/ann_src"
    for batch in appends:
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_append_vectors(stream, root, f"{tmp_path}/ann_ck")
    q.awaitTermination()
    live = read_live_vectors(spark, root)
    assert live.count() == 10_000

    full = spark.createDataFrame(
        [r for batch in [base, *appends] for r in batch], schema
    ).cache()
    queries = [(vid, v) for vid, v, _l in base if vid % 111 == 0][:5] + [
        (vid, v) for vid, v, _l in appends[2] if vid % 1111 == 0
    ][:5]

    def recall(got, truth):
        return len(got & truth) / 10.0

    truths = {
        qid: {r.vec_id for r in cosine_topk(full, v, k=10).collect()}
        for qid, v in queries
    }
    # (a) live view under the STALE gen-1 coarse structure
    rs_live = [
        recall(
            {r.vec_id for r in ann_search_live(spark, root, v, k=10).collect()},
            truths[qid],
        )
        for qid, v in queries
    ]
    mean_live = sum(rs_live) / len(rs_live)
    assert mean_live >= 0.9, f"live-view recall {mean_live:.2f} < 0.9"

    # capture gen-1 results for the grace-window check
    q0 = queries[0][1]
    pre_swap = [tuple(r) for r in ann_search_indexed(spark, gen1, q0, k=10).collect()]

    gen2 = compact_ann_index(spark, root, publish=True)
    assert current_generation(root) == gen2 and gen2.endswith("gen-2")

    # (b) compacted == fresh rebuild, row-for-row on every query
    fresh = build_ann_index(
        full, f"{tmp_path}/ann_fresh", vec_col="embedding"
    )
    for _qid, v in queries:
        got_c = [tuple(r) for r in ann_search_indexed(spark, gen2, v, k=10).collect()]
        got_f = [tuple(r) for r in ann_search_indexed(spark, fresh, v, k=10).collect()]
        assert got_c == got_f, "compacted generation diverged from fresh rebuild"

    # (d) hwm commit point: live view now has no unfolded tail
    for _qid, v in queries[:3]:
        got_live = [tuple(r) for r in ann_search_live(spark, root, v, k=10).collect()]
        got_gen = [tuple(r) for r in ann_search_indexed(spark, gen2, v, k=10).collect()]
        assert got_live == got_gen

    # compacted recall at least matches the live floor
    rs_c = [
        recall(
            {r.vec_id for r in ann_search_indexed(spark, gen2, v, k=10).collect()},
            truths[qid],
        )
        for qid, v in queries
    ]
    assert sum(rs_c) / len(rs_c) >= 0.9

    # (c) grace window: gen-1 still serves identical, complete results
    post_swap = [tuple(r) for r in ann_search_indexed(spark, gen1, q0, k=10).collect()]
    assert post_swap == pre_swap
    removed = gc_generations(root, retain=0)
    assert [p.rsplit("/", 1)[1] for p in removed] == ["gen-1"]
    full.unpersist()


@pytest.mark.heavy
def test_ann_lifecycle_drift_reclustered_compaction(spark, tmp_path):
    """Distribution-shift lifecycle contract (r11): appends drawn from 5
    clusters the gen-1 structure never saw are ingest-assigned to the
    nearest OLD centroid (scattered, but searchable); a RECLUSTERED
    compaction (compact_ann_index recluster_k=) re-carves the space with
    Lloyd k-means over the full live corpus and must restore recall@10
    to >= 0.9 at n_probe=2 for drifted-cluster queries — where the
    means-only compaction measurably cannot (SCALE.md r11: 0.58 at the
    same operating point). Smaller than the SCALE.md measurement for CI
    wall; same construction."""
    import numpy as np

    from sparkfulltextquery_spark.similarity import (
        ann_search_indexed,
        cosine_topk,
    )
    from sparkfulltextquery_spark.similarity.lifecycle import (
        compact_ann_index,
        init_ann_index,
        stream_append_vectors,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(15, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(seed, n, start, lo, hi):
        r = np.random.default_rng(seed)
        lab = r.integers(lo, hi, size=n)
        v = centers[lab] + 0.2 * r.normal(size=(n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return [
            (start + i, [float(x) for x in v[i]], int(lab[i]))
            for i in range(n)
        ]

    schema = "vec_id long, embedding array<float>, label int"
    base = draw(11, 800, 0, 0, 10)           # clusters 0-9
    appends = draw(12, 3200, 800, 10, 15)    # DRIFT: clusters 10-14

    root = f"{tmp_path}/drift_root"
    init_ann_index(spark, spark.createDataFrame(base, schema), root)
    src = f"{tmp_path}/drift_src"
    spark.createDataFrame(appends, schema).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_append_vectors(stream, root, f"{tmp_path}/drift_ck")
    q.awaitTermination()

    full = spark.createDataFrame(base + appends, schema).cache()
    qs = [(vid, v) for vid, v, _l in appends if vid % 307 == 0][:8]
    truth = {
        qid: {r.vec_id for r in cosine_topk(full, v, k=10).collect()}
        for qid, v in qs
    }
    gen2 = compact_ann_index(spark, root, publish=True, recluster_k=15)
    rs = [
        len(
            {
                r.vec_id
                for r in ann_search_indexed(
                    spark, gen2, v, k=10, n_probe=2
                ).collect()
            }
            & truth[qid]
        )
        / 10.0
        for qid, v in qs
    ]
    mean_r = sum(rs) / len(rs)
    assert mean_r >= 0.9, f"reclustered drift recall {mean_r:.2f} < 0.9"
    full.unpersist()


@pytest.mark.heavy
def test_stream_append_vectors_idempotent_replay(spark, tmp_path):
    """r12 (ADVICE r11): segments are segment=<batch_id> partition
    directories written with mode('overwrite') — a replayed batch (here:
    the whole source re-streamed under a FRESH checkpoint, the worst-case
    at-least-once replay) overwrites its own directories instead of
    appending, so the live view carries no duplicate vec_id rows and
    live search results are unchanged."""
    import numpy as np

    from sparkfulltextquery_spark.similarity.lifecycle import (
        ann_search_live,
        init_ann_index,
        read_live_vectors,
        stream_append_vectors,
    )

    rng = np.random.default_rng(3)
    def rows(n, start):
        v = rng.normal(size=(n, 16))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return [
            (start + i, [float(x) for x in v[i]], int(i % 4))
            for i in range(n)
        ]

    schema = "vec_id long, embedding array<float>, label int"
    root = f"{tmp_path}/idem_root"
    init_ann_index(spark, spark.createDataFrame(rows(200, 0), schema), root)

    src = f"{tmp_path}/idem_src"
    appends = rows(300, 200)
    for lo, hi in ((0, 150), (150, 300)):
        spark.createDataFrame(appends[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ck):
        q = stream_append_vectors(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            root,
            f"{tmp_path}/{ck}",
        )
        q.awaitTermination()

    run("idem_ck1")
    live1 = read_live_vectors(spark, root)
    assert live1.count() == 500
    qv = appends[0][1]
    first = [tuple(r) for r in ann_search_live(spark, root, qv, k=10).collect()]

    # full replay under a fresh checkpoint: same batch ids, overwritten
    # in place — still 500 distinct rows, identical search results
    run("idem_ck2")
    live2 = read_live_vectors(spark, root)
    assert live2.count() == 500
    assert live2.select("vec_id").distinct().count() == 500
    again = [tuple(r) for r in ann_search_live(spark, root, qv, k=10).collect()]
    assert again == first


@pytest.mark.heavy
def test_compact_unpublished_generations_get_distinct_dirs(spark, tmp_path):
    """r12 (ADVICE r11): with the default publish=False two-step flow,
    generation numbering derives from the EXISTING gen-* directories (not
    the pointer), so a second compaction before publish lands in a fresh
    directory instead of silently overwriting the first's unpublished
    output — a later publish of the first path serves the data it was
    built from."""
    import numpy as np

    from sparkfulltextquery_spark.functions.index_stream import (
        publish_generation,
    )
    from sparkfulltextquery_spark.similarity import ann_search_indexed
    from sparkfulltextquery_spark.similarity.lifecycle import (
        init_ann_index,
        read_live_vectors,
    )
    from sparkfulltextquery_spark.similarity.lifecycle import (
        compact_ann_index,
    )

    rng = np.random.default_rng(5)
    v = rng.normal(size=(120, 16))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v[i]], int(i % 3)) for i in range(120)]
    schema = "vec_id long, embedding array<float>, label int"
    root = f"{tmp_path}/gen_root"
    gen1 = init_ann_index(spark, spark.createDataFrame(rows, schema), root)
    assert gen1.endswith("gen-1")

    gen2 = compact_ann_index(spark, root, publish=False)
    gen3 = compact_ann_index(spark, root, publish=False)
    assert gen2.endswith("gen-2") and gen3.endswith("gen-3")
    # both unpublished outputs exist independently; publishing the FIRST
    # serves its own complete data
    first = [
        tuple(r)
        for r in ann_search_indexed(spark, gen2, rows[0][1], k=5).collect()
    ]
    publish_generation(root, gen2, spark=spark)
    assert read_live_vectors(spark, root).count() == 120
    again = [
        tuple(r)
        for r in ann_search_indexed(spark, gen2, rows[0][1], k=5).collect()
    ]
    assert again == first


@pytest.mark.heavy
def test_compact_sample_trained_recluster_parity_and_determinism(
    spark, tmp_path
):
    """r12 (VERDICT r11 #2): sample-trained reclustered compaction —
    Lloyd over a seeded content-addressed sample, then ONE full-corpus
    assign — must restore drift recall like the full-corpus retrain
    (>= 0.9 at n_probe=2 on the drift fixture) and be DETERMINISTIC:
    the same corpus + seed compacts to the identical vec_id→label
    assignment on a second run."""
    import numpy as np

    from sparkfulltextquery_spark.similarity import (
        ann_search_indexed,
        cosine_topk,
    )
    from sparkfulltextquery_spark.similarity.lifecycle import (
        compact_ann_index,
        init_ann_index,
        stream_append_vectors,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(15, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(seed, n, start, lo, hi):
        r = np.random.default_rng(seed)
        lab = r.integers(lo, hi, size=n)
        v = centers[lab] + 0.2 * r.normal(size=(n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return [
            (start + i, [float(x) for x in v[i]], int(lab[i]))
            for i in range(n)
        ]

    schema = "vec_id long, embedding array<float>, label int"
    base = draw(21, 800, 0, 0, 10)
    appends = draw(22, 3200, 800, 10, 15)   # drift: clusters 10-14

    def build_root(name):
        root = f"{tmp_path}/{name}"
        init_ann_index(spark, spark.createDataFrame(base, schema), root)
        src = f"{tmp_path}/{name}_src"
        spark.createDataFrame(appends, schema).coalesce(1).write.parquet(src)
        q = stream_append_vectors(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            root,
            f"{tmp_path}/{name}_ck",
        )
        q.awaitTermination()
        return root

    full = spark.createDataFrame(base + appends, schema).cache()
    qs = [(vid, v) for vid, v, _l in appends if vid % 307 == 0][:8]
    truth = {
        qid: {r.vec_id for r in cosine_topk(full, v, k=10).collect()}
        for qid, v in qs
    }

    def recall(gen_dir):
        rs = [
            len(
                {
                    r.vec_id
                    for r in ann_search_indexed(
                        spark, gen_dir, v, k=10, n_probe=2
                    ).collect()
                }
                & truth[qid]
            )
            / 10.0
            for qid, v in qs
        ]
        return sum(rs) / len(rs)

    # sample-trained (forced well below the corpus: 1,500 of 4,000)
    root_a = build_root("sampled_a")
    gen_a = compact_ann_index(
        spark, root_a, publish=True, recluster_k=15, train_sample_size=1500
    )
    r_sampled = recall(gen_a)
    assert r_sampled >= 0.9, f"sample-trained drift recall {r_sampled:.2f}"

    # determinism: identical corpus + seed → identical assignment
    root_b = build_root("sampled_b")
    gen_b = compact_ann_index(
        spark, root_b, publish=True, recluster_k=15, train_sample_size=1500
    )
    lab_a = {
        int(r.vec_id): int(r.label)
        for r in spark.read.parquet(f"{gen_a}/vectors").collect()
    }
    lab_b = {
        int(r.vec_id): int(r.label)
        for r in spark.read.parquet(f"{gen_b}/vectors").collect()
    }
    assert lab_a == lab_b

    # the full-corpus retrain remains available behind train_sample_size=0
    root_c = build_root("full_train")
    gen_c = compact_ann_index(
        spark, root_c, publish=True, recluster_k=15, train_sample_size=0
    )
    r_full = recall(gen_c)
    assert r_full >= 0.9
    full.unpersist()


def test_gc_two_swap_window_contract(spark, tmp_path):
    """r12 (VERDICT r11 #7, hygiene): the GC grace window is measured in
    SWAPS, not time — retain=N keeps the N most recent superseded
    generations, so a reader that resolved the pointer and then slept
    through N+1 publishes CAN lose its directory (documented in
    gc_generations). Pinned both ways: at retain=1 a two-swap-old reader
    loses gen-1; at retain=2 it survives two swaps."""
    import os

    from sparkfulltextquery_spark.functions.index_stream import (
        gc_generations,
        publish_generation,
    )

    for retain, gen1_survives in ((1, False), (2, True)):
        root = f"{tmp_path}/grace_{retain}"
        os.makedirs(root)
        for n in (1, 2, 3):
            gen = f"{root}/gen-{n}"
            os.makedirs(gen)
            with open(f"{gen}/data", "w") as f:
                f.write(str(n))
            publish_generation(root, gen)
        # reader pinned on gen-1 has slept through TWO swaps (gen-2, gen-3)
        removed = gc_generations(root, retain=retain)
        assert os.path.isdir(f"{root}/gen-1") is gen1_survives, (
            f"retain={retain}: gen-1 survival contract broken"
        )
        assert os.path.isdir(f"{root}/gen-3")  # CURRENT always kept
        if not gen1_survives:
            assert [os.path.basename(p) for p in removed] == ["gen-1"]
