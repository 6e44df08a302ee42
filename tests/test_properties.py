"""Property-based cross-engine parity (reference analogue: the randomized
RandomDataGenerator suites, catalyst test sql/RandomDataGenerator.scala:37).

For the primitives whose *definition* must be identical in three places —
the Python model, the Spark expression, and the DuckDB oracle fragment —
hypothesis generates adversarial strings (unicode, empty, punctuation runs)
and each example batch is checked through all three engines at once.
"""

from __future__ import annotations

import hashlib
import re

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sparkfulltextquery_spark.functions.hashes import h28_duck, h60, h60_duck, h28
from sparkfulltextquery_spark.functions.text import (
    ngrams,
    ngrams_duck,
    tokenize,
    tokenize_duck,
)

# printable-ish strings incl. unicode, punctuation runs, empties
TEXTS = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        max_size=60,
    ),
    min_size=20,
    max_size=40,
)


def _py_tokenize(s: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", s.lower()) if t]


def _py_ngrams(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_h28(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


@pytest.fixture(scope="module")
def duck_con():
    return duckdb.connect()


@settings(max_examples=5, deadline=None)
@given(TEXTS)
def test_tokenizer_three_way_parity(spark, duck_con, texts):
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    spark_out = {
        r.i: list(r.toks)
        for r in sdf.select("i", tokenize(F.col("text")).alias("toks")).collect()
    }
    duck_out = {
        i: list(toks)
        for i, toks in duck_con.execute(
            f"SELECT i, {tokenize_duck('text')} FROM (SELECT unnest(range(len($1))) AS i, unnest($1::VARCHAR[]) AS text)",
            [texts],
        ).fetchall()
    }
    py_out = {i: _py_tokenize(t) for i, t in enumerate(texts)}
    assert spark_out == py_out
    assert duck_out == py_out


@settings(max_examples=5, deadline=None)
@given(TEXTS)
def test_ngrams_three_way_parity(spark, duck_con, texts):
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    toks_col = tokenize(F.col("text"))
    spark_out = {
        r.i: list(r.g)
        for r in sdf.select("i", ngrams(toks_col, 3).alias("g")).collect()
    }
    duck_out = {
        i: list(g)
        for i, g in duck_con.execute(
            f"SELECT i, {ngrams_duck(tokenize_duck('text'), 3)} "
            "FROM (SELECT unnest(range(len($1))) AS i, unnest($1::VARCHAR[]) AS text)",
            [texts],
        ).fetchall()
    }
    py_out = {i: _py_ngrams(_py_tokenize(t), 3) for i, t in enumerate(texts)}
    assert spark_out == py_out
    assert duck_out == py_out


@settings(max_examples=5, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=40), min_size=10, max_size=20))
def test_portable_hash_three_way_parity(spark, duck_con, strings):
    sdf = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, s string")
    spark_out = {
        r.i: (r.h6, r.h2)
        for r in sdf.select(
            "i", h60(F.col("s")).alias("h6"), h28(F.col("s")).alias("h2")
        ).collect()
    }
    duck_out = {
        i: (a, b)
        for i, a, b in duck_con.execute(
            f"SELECT i, {h60_duck('s')}, {h28_duck('s')} "
            "FROM (SELECT unnest(range(len($1))) AS i, unnest($1::VARCHAR[]) AS s)",
            [strings],
        ).fetchall()
    }
    py_out = {i: (_py_h60(s), _py_h28(s)) for i, s in enumerate(strings)}
    assert spark_out == py_out
    assert duck_out == py_out


def test_minhash_estimates_jaccard(spark):
    """Statistical property: on planted near-dup pairs the MinHash candidate
    stage must recall pairs whose true shingle jaccard ≥ 0.8 (16 perms,
    8×2 banding → P(miss) = (1−s²)⁸ ≤ 0.9%)."""
    from sparkfulltextquery_spark.dedup.minhash import (
        doc_shingle_sets,
        lsh_candidate_pairs,
        verified_near_dups,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    toks = doc_shingle_sets(docs)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        ta.join(tb, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")) >= 0.8)
    )
    true_pairs = {(r.doc_a, r.doc_b) for r in truth.collect()}
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()}
    assert true_pairs <= cands, f"LSH missed {true_pairs - cands}"
    verified = {(r.doc_a, r.doc_b) for r in verified_near_dups(docs, threshold=0.8).collect()}
    assert verified == true_pairs


def test_connected_components_chain_and_islands(spark):
    # a 12-vertex path (worst-case diameter per edge count) + a triangle +
    # an isolated pair: labels must converge to each component's min
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.dedup.components import connected_components

    chain = [(i, i + 1) for i in range(11)]          # 0..11 path
    tri = [(100, 101), (101, 102), (100, 102)]       # triangle
    pair = [(200, 201)]
    edges = spark.createDataFrame(chain + tri + pair, "src int, dst int")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert all(got[v] == 0 for v in range(12))
    assert all(got[v] == 100 for v in (100, 101, 102))
    assert got[200] == got[201] == 200
    assert len(got) == 17


def test_sketch_union_accuracy(spark):
    # mergeable-sketch contract: per-group HLL sketches unioned globally
    # must estimate the exact global distinct count within 5%, and per-group
    # estimates must each be within 5% of their exact counts
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    l = load_table(spark, SF_DIR, "lineitem")
    per_flag = l.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    rows = per_flag.select(
        "l_returnflag", "exact",
        F.hll_sketch_estimate("sk").cast("long").alias("est"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.est - r.exact) / r.exact < 0.05, (r.l_returnflag, r.est, r.exact)

    global_est = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est")
    ).collect()[0].est
    exact_global = l.select(F.countDistinct("l_partkey")).collect()[0][0]
    assert abs(global_est - exact_global) / exact_global < 0.05

    # count-min sketch: frequency estimates are upper bounds within eps*N
    cms = l.agg(
        F.count_min_sketch("l_suppkey", F.lit(0.005), F.lit(0.01), F.lit(42)).alias("cm")
    ).collect()[0].cm
    assert isinstance(cms, (bytes, bytearray)) and len(cms) > 0


def test_observe_metrics_match_aggregates(spark):
    # df.observe: accumulator-style metrics collected DURING the action with
    # zero extra passes — the modern replacement for the reference's
    # SQLMetrics-only introspection. Metrics must equal a separate aggregate.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    l = load_table(spark, SF_DIR, "lineitem")
    obs = Observation("li_metrics")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.max("l_shipdate").alias("max_ship"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.max("l_shipdate").alias("max_ship"),
    ).collect()[0]
    assert got["n"] == want["n"]
    assert got["qty"] == want["qty"]
    assert got["max_ship"] == want["max_ship"]


@given(
    texts=st.lists(
        st.text(alphabet=st.characters(codec="ascii"), max_size=60), min_size=1, max_size=8
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=30, deadline=None)
def test_ngram_count_invariant(texts, k):
    # pure-Python model check (no Spark in the hypothesis loop): the n-gram
    # relation over any tokenization has exactly max(0, len - k + 1) entries
    # — the invariant both engine fragments encode structurally
    for t in texts:
        toks = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
        n_expected = max(0, len(toks) - k + 1)
        grams = [" ".join(toks[i : i + k]) for i in range(n_expected)]
        assert len(grams) == n_expected
        assert all(len(g.split(" ")) == k for g in grams)


@given(s=st.text(max_size=40))
@settings(max_examples=50, deadline=None)
def test_h28_range_and_determinism(s):
    # the portable hash must stay in [0, 2^28) (so (a*h+b) % p never
    # overflows int64) and be a pure function of its input
    h = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
    assert 0 <= h < (1 << 28)
    assert h == int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


def test_bitmap_distinct_is_exact_and_mergeable(spark):
    # bitmap_construct_agg/bitmap_count must equal countDistinct per group,
    # and bitmap_or_agg of the per-group bitmaps must equal the global
    # distinct count — exactness + mergeability (unlike HLL's ±2%)
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    l = load_table(spark, SF_DIR, "lineitem")
    per_bucket = l.groupBy(
        "l_returnflag", F.bitmap_bucket_number("l_partkey").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("bm"))
    per = per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bm")).alias("est")
    )
    exact = {
        r.l_returnflag: r.exact
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact"))
        .collect()
    }
    for r in per.collect():
        assert r.est == exact[r.l_returnflag], (r.l_returnflag, r.est)
    # mergeability: OR the per-(group,bucket) bitmaps across groups by
    # bucket, sum of counts = global exact distinct
    merged = (
        per_bucket.groupBy("bucket")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("c"))
        .agg(F.sum("c").alias("est"))
        .collect()[0]
        .est
    )
    assert merged == l.select(F.countDistinct("l_partkey")).collect()[0][0]


def test_search_edge_cases_empty_not_crash(spark):
    # unknown terms, absent phrases, and empty-edge graphs must return
    # EMPTY relations (not errors) — the degenerate inputs a production
    # pipeline hits daily
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.dedup.components import connected_components
    from sparkfulltextquery_spark.functions.fulltext import bm25_search, phrase_match
    from sparkfulltextquery_spark.functions.querylang import search
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    assert bm25_search(docs, "zzzzqx nonexistentterm", k=5).count() == 0
    assert phrase_match(docs, "zzzzqx nonexistentterm").count() == 0
    assert search(docs, '"zzzzqx nonexistentterm" OR qqqzzz', k=5).count() == 0
    # NOT over everything-matching term -> empty; NOT over nothing -> all
    n_docs = docs.count()
    assert search(docs, "NOT zzzzqx", k=n_docs + 5).count() == min(n_docs, n_docs + 5)

    empty_edges = spark.createDataFrame([], "src int, dst int")
    assert connected_components(empty_edges).count() == 0

    # empty-token document chunks to one empty chunk, never crashes
    from sparkfulltextquery_spark.registry import REGISTRY
    import __spark_entry__  # noqa: F401

    one = spark.createDataFrame(
        [(1, "..."), (2, "a b")], "doc_id bigint, text string"
    )
    from sparkfulltextquery_spark.functions.text import tokenize

    assert one.select(F.size(tokenize(F.col("text"))).alias("n")).filter(
        F.col("n") == 0
    ).count() == 1


def test_minhash_planted_duplicates_full_recall(spark):
    # identical documents share every band -> always candidates -> jaccard
    # 1.0: planted exact dups must ALL be recovered (recall = 1 for the
    # degenerate case), and verified pairs must include no false 1.0s
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.dedup.minhash import verified_near_dups
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    base = load_table(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 40
    )
    clones = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = base.union(clones)

    pairs = verified_near_dups(corpus, threshold=0.99).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs if r.jaccard >= 0.999}
    planted = {(i, i + 100000) for (i,) in base.select("doc_id").collect()}
    missing = planted - got
    assert not missing, f"missing planted dup pairs: {sorted(missing)[:5]}"
    # any extra 1.0 pairs must be genuinely identical texts
    texts = {r.doc_id: r.text for r in corpus.collect()}
    for a, b in got - planted:
        assert texts[a] == texts[b], (a, b)


def _planted_cluster_corpus(n=2000, dim=64, k=10, sigma=0.2, seed=11):
    """Deterministic clustered embedding corpus: k Gaussian clusters on
    the unit sphere. The driver's synthetic embeddings table is ISOTROPIC
    (measured r9: same-label mean cosine 0.0; true top-10 neighbors share
    the label 9.5% of the time — chance), so coarse-quantization ANN is
    information-free on it BY CONSTRUCTION of that data, not by any fault
    of the index. Recall contracts belong on data with neighborhood
    structure — this corpus — while SCALE.md documents the isotropic
    curve for honesty."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, size=n)
    v = centers[labels] + sigma * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return [
        (i, [float(x) for x in v[i]], int(labels[i])) for i in range(n)
    ]


@pytest.mark.heavy
def test_ivf_recall_contract_at_default_probe(spark):
    """ANN recall contract (r9, VERDICT r08 #7): on a clustered corpus
    (10 planted Gaussian clusters, 2,000 vectors, dim 64), IVF at its
    default n_probe=3 and IVF-PQ (m=8, exact re-rank) at its default
    n_probe=2 must hold mean recall@10 ≥ 0.9 vs brute-force cosine. The
    full recall-vs-cost curve at sf1 — including the isotropic given-label
    corpus where NO coarse index can work — is committed in SCALE.md
    (scripts/measure_ann_recall.py)."""
    from sparkfulltextquery_spark.similarity import (
        cosine_topk,
        ivf_topk,
        ivfpq_topk,
        pq_encode,
        pq_train,
    )

    rows = _planted_cluster_corpus()
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    emb.count()
    queries = [(vid, v) for vid, v, _l in rows if vid % 100 == 0][:20]
    lit = pq_train(emb, 8)
    codes = pq_encode(emb, literals=lit)

    r_ivf, r_pq = [], []
    for _qid, v in queries:
        truth = {r.vec_id for r in cosine_topk(emb, v, k=10).collect()}
        got_ivf = {r.vec_id for r in ivf_topk(emb, v, k=10).collect()}  # n_probe=3
        # shortlist_k sized to the probed candidate pool: the
        # label-centroid codebook gives ADC no WITHIN-cluster resolution
        # (same-cluster vectors share codes — documented in ivfpq_topk),
        # so the shortlist must cover the query cluster's ~n/k members
        got_pq = {
            r.vec_id
            for r in ivfpq_topk(
                emb, v, k=10, shortlist_k=200, literals=lit, codes=codes
            ).collect()
        }  # n_probe=2
        r_ivf.append(len(got_ivf & truth) / 10.0)
        r_pq.append(len(got_pq & truth) / 10.0)
    mean_ivf = sum(r_ivf) / len(r_ivf)
    mean_pq = sum(r_pq) / len(r_pq)
    assert mean_ivf >= 0.9, f"IVF recall@10 {mean_ivf:.3f} < 0.9 at n_probe=3"
    assert mean_pq >= 0.9, f"IVF-PQ recall@10 {mean_pq:.3f} < 0.9 at n_probe=2"


@pytest.mark.heavy
def test_trained_pq_codebook_recall_contract(spark):
    """Trained-codebook contract (r10, VERDICT r09 #1): pq_train(codes=256)
    replaces the label-centroid codebook with a per-subspace 256-code
    k-means codebook, restoring WITHIN-cluster ADC resolution — IVF-PQ at
    n_probe=2 must hold mean recall@10 ≥ 0.9 at shortlist_k ≤ 100 on the
    planted clustered corpus (the label-centroid codebook needs
    shortlist_k ≈ cluster size ≈ 200 on the same data — the r9 SCALE.md
    finding this trainer exists to fix). The dict is consumed unchanged
    by pq_encode/ivfpq_topk; measured 0.985 at (2, 100) on this corpus."""
    from sparkfulltextquery_spark.similarity import (
        cosine_topk,
        ivfpq_topk,
        pq_encode,
        pq_train,
    )

    rows = _planted_cluster_corpus()
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    emb.count()
    try:
        lit = pq_train(emb, 8, codes=256, train_iters=4)
        assert len(lit["labels"]) > 64, "trained codebook unexpectedly tiny"
        assert lit["ivf_labels"] == sorted({l for _, _, l in rows})
        codes = pq_encode(emb, literals=lit).cache()
        assert codes.count() == len(rows)
        queries = [(vid, v) for vid, v, _l in rows if vid % 150 == 0][:12]
        rs = []
        for _qid, v in queries:
            truth = {r.vec_id for r in cosine_topk(emb, v, k=10).collect()}
            got = {
                r.vec_id
                for r in ivfpq_topk(
                    emb, v, k=10, n_probe=2, shortlist_k=100,
                    literals=lit, codes=codes,
                ).collect()
            }
            rs.append(len(got & truth) / 10.0)
        mean_r = sum(rs) / len(rs)
        assert mean_r >= 0.9, f"trained-PQ recall@10 {mean_r:.3f} < 0.9"
    finally:
        emb.unpersist()


def test_pq_encode_join_path_matches_unrolled(spark):
    """The two pq_encode paths — statically-unrolled argmin expression
    (small codebooks) and broadcast-join + min(struct) (large trained
    codebooks) — implement one contract: 6dp-rounded L2² argmin with
    lowest-code tie-break. Same literals through both paths must yield
    identical code tables."""
    from sparkfulltextquery_spark.similarity import (
        _pq_encode_join,
        normalize_expr,
        pq_encode,
        pq_train,
    )

    rows = _planted_cluster_corpus(n=300)
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    lit = pq_train(emb, 8)  # label-centroid codebook: ≤64 codes → expr path
    unrolled = {
        r.vec_id: (r.label, list(r.codes))
        for r in pq_encode(emb, literals=lit).collect()
    }
    ev = emb.select(
        "vec_id",
        "label",
        normalize_expr(F.col("embedding").cast("array<double>")).alias("v"),
    )
    joined = {
        r.vec_id: (r.label, list(r.codes))
        for r in _pq_encode_join(
            ev, lit["labels"], lit["cent"], lit["m"], lit["sub"]
        ).collect()
    }
    assert unrolled == joined


def test_hyperplane_lsh_recall_floor(spark):
    # planted near-identical vectors (tiny single-coordinate perturbation,
    # cosine ≈ 0.999) must essentially all surface as LSH band candidates —
    # at p ≈ 1 the banding curve 1-(1-p^6)^4 is ≈ 1, so missing pairs mean
    # the banding is wired wrong, not probabilistic bad luck
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.similarity import hyperplane_band_keys
    from sparkfulltextquery_spark.similarity.queries import EMB_DIM
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).filter(F.col("vec_id") < 200)
    clones = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("v"),
    )
    corpus = e.union(clones)
    keyed = corpus.select(
        "vec_id", F.explode(hyperplane_band_keys(F.col("v"), EMB_DIM)).alias("bk")
    )
    a = keyed.select("bk", F.col("vec_id").alias("vec_a"))
    b = keyed.select("bk", F.col("vec_id").alias("vec_b"))
    cand = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, "bk")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
        .collect()
    }
    planted = {(i, i + 100000) for (i,) in e.select("vec_id").collect()}
    recall = len(planted & cand) / len(planted)
    assert recall >= 0.95, f"planted near-identical recall {recall:.2f}"


def test_incremental_store_planted_duplicates_full_recall(spark, tmp_path):
    # clones of corpus docs arriving as a later batch must ALL be caught by
    # probing the persisted signature store — without re-hashing the corpus
    # (the store is built once, before the delta exists)
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.dedup.incremental import (
        build_signature_store,
        incremental_near_dups,
    )
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    corpus = load_table(spark, SF_DIR, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 40
    )
    store = f"file://{tmp_path}/sigstore"
    build_signature_store(corpus, store)

    delta = corpus.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    pairs = incremental_near_dups(
        spark, delta, corpus, store, threshold=0.99
    ).collect()
    got = {(r.doc_new, r.doc_old) for r in pairs if r.jaccard >= 0.999}
    planted = {(i + 100000, i) for (i,) in corpus.select("doc_id").collect()}
    missing = planted - got
    assert not missing, f"missing planted pairs: {sorted(missing)[:5]}"
    # every surviving pair verified at jaccard 1.0 must be a true clone
    texts = {r.doc_id: r.text for r in corpus.collect()}
    for new_id, old_id in got - planted:
        assert texts[new_id - 100000] == texts[old_id], (new_id, old_id)


def test_bm25f_title_boost_contract(spark):
    """Field-weighting contract: with identical term counts, a document
    whose query term sits in the title (first 10 tokens) must outrank one
    whose term sits only in the body — the point of BM25F's w_title=2."""
    from sparkfulltextquery_spark.functions.fulltext import bm25f_search

    filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    body_fill = " ".join(["lorem"] * 30)
    docs = spark.createDataFrame(
        [
            # doc 1: 'needle' inside the title window
            (1, "needle " + filler + " " + body_fill),
            # doc 2: same length, 'needle' only in the body
            (2, filler + " pad " + body_fill + " needle"),
            # noise docs so stats aren't degenerate
            (3, filler + " " + body_fill),
            (4, filler + " " + body_fill + " extra words here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.score for r in bm25f_search(docs, "needle", k=4).collect()}
    assert set(got) == {1, 2}, got
    assert got[1] > got[2], got


@pytest.mark.heavy
def test_pq_adc_recall_vs_exact(spark):
    """PQ-ADC quality contract on PLANTED clustered vectors (the synthetic
    embeddings table is isotropic noise — its `label` is not a geometric
    cluster, so it can exercise the plan but not the recall). 10 planted
    centroids, 20 members each with small deterministic perturbation:
    the ADC shortlist + exact re-rank must recover ≥8 of the exact
    cosine top-10."""
    import hashlib

    from sparkfulltextquery_spark.similarity import cosine_topk, pq_adc_topk

    def h(s_):
        return int(hashlib.md5(s_.encode()).hexdigest()[:8], 16)

    dim, n_clusters, per = 64, 10, 20
    rows = []
    for c in range(n_clusters):
        cent = [1.0 if h(f"c{c}:{d}") % 2 else -1.0 for d in range(dim)]
        for i in range(per):
            vec = [
                cent[d] + ((h(f"v{c}:{i}:{d}") % 1000) / 1000.0 - 0.5) * 0.4
                for d in range(dim)
            ]
            rows.append((c * per + i, vec, c))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    qvec = rows[0][1]
    exact = {r.vec_id for r in cosine_topk(e, qvec, k=10).collect()}
    approx = {r.vec_id for r in pq_adc_topk(e, qvec, k=10).collect()}
    assert len(exact & approx) >= 8, (exact, approx)


def test_kmeans_recovers_planted_clusters(spark):
    """K-means contract: with one seed per planted cluster (interleaved ids
    put one member of each cluster in the init set), 2 Lloyd rounds must
    reproduce the planted partition exactly."""
    import hashlib

    from sparkfulltextquery_spark.similarity import kmeans_iterate

    def h(s_):
        return int(hashlib.md5(s_.encode()).hexdigest()[:8], 16)

    dim, n_clusters, per = 32, 8, 15
    rows = []
    for c in range(n_clusters):
        cent = [1.0 if h(f"kc{c}:{d}") % 2 else -1.0 for d in range(dim)]
        for i in range(per):
            vec = [
                cent[d] + ((h(f"kv{c}:{i}:{d}") % 1000) / 1000.0 - 0.5) * 0.5
                for d in range(dim)
            ]
            rows.append((i * n_clusters + c, vec, c))  # interleaved ids
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {r.vec_id: r.cluster for r in kmeans_iterate(e, k=n_clusters, iters=2).collect()}
    planted = {vid: lab for vid, _, lab in rows}
    # the partition must match: same planted label ⇔ same learned cluster
    by_label = {}
    for vid, lab in planted.items():
        by_label.setdefault(lab, set()).add(got[vid])
    learned = [v for v in by_label.values()]
    assert all(len(v) == 1 for v in learned), by_label
    assert len({next(iter(v)) for v in learned}) == n_clusters


def test_kmeans_assign_numpy_matches_jvm_reference(spark):
    """Row-identity contract for the r12 vectorized assignment: the Arrow
    NumPy argmin (kmeans_assign) must reproduce the JVM reference shape —
    crossJoin(k centroids) + 6dp-rounded fold d2 + min(struct(d2, cluster))
    — row for row, including duplicate-vector ties (equal d2 → lowest
    cluster id), on the sf0.001 embeddings at both a small and a
    sqrt(n)-sized k."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR

    from sparkfulltextquery_spark.similarity import kmeans_assign
    from sparkfulltextquery_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    ev = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    import math

    n = ev.count()
    for k in (8, max(8, math.isqrt(n))):
        cents = (
            ev.orderBy("vec_id")
            .limit(k)
            .select(F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("c"))
        )
        d2 = F.round(
            F.aggregate(
                F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        ref = sorted(
            ev.crossJoin(F.broadcast(cents))
            .select("vec_id", "cluster", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cluster")).alias("best"))
            .select("vec_id", F.col("best.cluster").alias("cluster"))
            .collect()
        )
        got = sorted(kmeans_assign(ev, cents).collect())
        assert got == ref, (k, got[:5], ref[:5])


def test_minhash_shingleless_docs_never_candidates(spark):
    """ADVICE r04 (medium): docs with fewer than SHINGLE_K tokens have an
    empty shingle set; they must be dropped before banding — otherwise all
    their bands collapse to md5('') and every such doc pairs with every
    other (quadratic). The profile relation must exclude them and the
    candidate stage must produce no pair involving them."""
    from sparkfulltextquery_spark.dedup.minhash import (
        doc_shingle_profiles,
        lsh_candidate_pairs,
        verified_near_dups,
    )

    rows = [
        (1, "one two"),          # 2 tokens < k=3 → no shingles
        (2, "tiny"),             # 1 token
        (3, ""),                 # empty
        (4, "alpha beta gamma delta epsilon"),
        (5, "alpha beta gamma delta epsilon"),  # exact dup of 4
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    prof_ids = {r.doc_id for r in doc_shingle_profiles(docs).select("doc_id").collect()}
    assert prof_ids == {4, 5}
    cands = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()}
    assert cands == {(4, 5)}
    ver = verified_near_dups(docs, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in ver} == {(4, 5)}


def test_incremental_store_excludes_shingleless_docs(spark, tmp_path):
    """The persisted band store must not accumulate md5('') buckets for
    shingle-less docs (same ADVICE item, store path)."""
    from sparkfulltextquery_spark.dedup.incremental import (
        build_signature_store,
        incremental_near_dups,
    )

    corpus = spark.createDataFrame(
        [(1, "x"), (2, "alpha beta gamma delta")], "doc_id int, text string"
    )
    store = f"file://{tmp_path}/sigstore"
    build_signature_store(corpus, store)
    stored = {r.doc_id for r in spark.read.parquet(f"{store}/bands").select("doc_id").distinct().collect()}
    assert stored == {2}
    # a shingle-less probe batch yields no candidates (not a crash, not a flood)
    delta = spark.createDataFrame([(10, "y z")], "doc_id int, text string")
    assert incremental_near_dups(spark, delta, corpus, store).count() == 0


# ---------------------------------------------------------------------------
# Randomized query-language equivalence. A test-owned generator emits query
# TEXT plus a pure-Python predicate over one doc's token list; it names no
# engine AST class, so the same trials hold whatever the parser builds from
# the text. Every leaf kind of the grammar is drawn (term and boosted term,
# exact/sloppy/boosted phrase, prefix, fuzzy, range, regexp, both wildcard
# forms, expansions that match nothing, every field-scoped atom,
# phrase-prefix, NEAR) under nested AND/OR/NOT, pure negation included;
# the corpus gains docs that are empty or punctuation-only. Each query also
# carries its scoring terms ({term: boost}: the exact words of every atom
# under no NOT, max-merged), and a test-owned BM25 (`_bm25_oracle`) scores
# them. Each query runs through inline `search` and `search_indexed`: match
# sets must equal the predicate's, the two (doc_id, score) lists must be
# identical, and every score must equal the Python BM25 at the 4dp
# contract. Registries drawn from the percolator's atom subset run through
# `_percolate_bool` and `percolate_matches` (one chunk, and three chunks
# through the ad-hoc prefilter and through a prebuilt query-term index)
# over the inline and the indexed relation, and through `percolate_scored`
# over the indexed postings, whose scores must equal `search_indexed`'s.
# ---------------------------------------------------------------------------

_TITLE_LEN = 10  # fulltext.BM25F_TITLE_LEN: the title is the first 10 tokens

#: leaf kinds the percolator accepts (with AND/OR/NOT over them)
_PERC_KINDS = (
    "term", "phrase", "slop", "prefix", "fuzzy", "range", "regex", "wild",
)
_QUERY_KINDS = _PERC_KINDS + (
    "bterm", "bphrase", "wild2", "nothing", "field", "fphrase", "fprefix",
    "ffuzzy", "frange", "fwild", "ppfx", "near",
)

#: expansion atoms no fixture term satisfies (checked by their predicates)
_NOTHING = ("zzqx*", "qzqzqz~1", "[zzzza TO zzzzb]", "/zq.x/", "zq?xj",
            "title:zzqx*", "body:zq*xj")


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _seg(ts, field):
    return ts[:_TITLE_LEN] if field == "title" else ts[_TITLE_LEN:]


def _wild_match(pat, t):
    # the pattern alphabet is [a-z0-9*?]: no other regex metacharacters
    return re.fullmatch(pat.replace("*", ".*").replace("?", "."), t) is not None


def _phrase_at(ts, words, lo, hi):
    """Some start i in [lo, hi] has ts[i:i+len(words)] == words."""
    n = len(words)
    return any(ts[i : i + n] == words for i in range(lo, min(hi, len(ts) - n) + 1))


def _sloppy(ts, words, slop):
    """Ordered sloppy phrase: from a start of words[0], each next word takes
    its nearest later position; the chain must span <= n-1+slop."""
    if slop == 0:
        return _phrase_at(ts, words, 0, len(ts))
    for p in (i for i, t in enumerate(ts) if t == words[0]):
        cur = p
        for w in words[1:]:
            cur = next((j for j in range(cur + 1, len(ts)) if ts[j] == w), None)
            if cur is None:
                break
        if cur is not None and cur - p <= len(words) - 1 + slop:
            return True
    return False


def _expansion_pred(text):
    """Predicate of a (possibly field-scoped) expansion atom's text."""
    field, _, body = text.rpartition(":")
    seg = (lambda ts: _seg(ts, field)) if field else (lambda ts: ts)
    if body.startswith("["):
        lo, hi = body[1:-1].split(" TO ")
        return lambda ts: any(lo <= t <= hi for t in seg(ts))
    if body.startswith("/"):
        pat = body[1:-1]
        return lambda ts: any(re.fullmatch(pat, t) for t in seg(ts))
    if "~" in body:
        w, d = body.split("~")
        return lambda ts: any(_lev(t, w) <= int(d) for t in seg(ts))
    return lambda ts: any(_wild_match(body, t) for t in seg(ts))


def _fuzz_atom(rng, vocab, bigrams, kind):
    """(query text, predicate over a doc's token list, {scoring term:
    boost}) for one leaf; expansions score nothing."""
    w = rng.choice(vocab)
    f = rng.choice(("title", "body"))
    a, b = rng.choice(bigrams).split()
    i = rng.randrange(len(w))
    if kind == "term":
        return w, lambda ts: w in ts, {w: 1.0}
    if kind == "bterm":
        return f"{w}^2", lambda ts: w in ts, {w: 2.0}
    if kind == "field":
        return f"{f}:{w}", lambda ts: w in _seg(ts, f), {w: 1.0}
    pair = {a: 1.0, b: 1.0}
    if kind == "phrase":
        return f'"{a} {b}"', lambda ts: _phrase_at(ts, [a, b], 0, len(ts)), pair
    if kind in ("slop", "bphrase"):
        s = rng.randint(1, 3) if kind == "slop" else rng.randint(0, 2)
        text = f'"{a} {b}"~{s}' + ("^3" if kind == "bphrase" else "")
        boosted = {a: 3.0, b: 3.0} if kind == "bphrase" else pair
        return text, lambda ts: _sloppy(ts, [a, b], s), boosted
    if kind == "fphrase":
        lo, hi = (0, _TITLE_LEN - 2) if f == "title" else (_TITLE_LEN, 10**9)
        return f'{f}:"{a} {b}"', lambda ts: _phrase_at(ts, [a, b], lo, hi), pair
    if kind == "ppfx":
        p = b[: max(1, len(b) - 1)]
        return f'"{a} {p}*"', lambda ts: any(
            ts[j] == a and ts[j + 1].startswith(p) for j in range(len(ts) - 1)
        ), {a: 1.0}
    if kind == "near":
        k = rng.randint(1, 6)
        return f"({a} NEAR/{k} {b})", lambda ts: any(
            abs(x - y) <= k
            for x, s in enumerate(ts) if s == a
            for y, t in enumerate(ts) if t == b
        ), pair
    scope = f"{f}:" if kind in ("fprefix", "ffuzzy", "frange", "fwild") else ""
    if kind in ("prefix", "fprefix"):
        text = f"{scope}{w[: max(1, len(w) - 1)]}*"
    elif kind in ("fuzzy", "ffuzzy"):
        text = f"{scope}{w}~{rng.randint(1, 2)}"
    elif kind in ("range", "frange"):
        lo, hi = sorted((w, rng.choice(vocab)))
        text = f"{scope}[{lo} TO {hi}]"
    elif kind == "regex":
        pat = w[:i] + "." + w[i + 1 :] if rng.random() < 0.5 else f"{w}|{rng.choice(vocab)}"
        text = f"/{pat}/"
    elif kind in ("wild", "fwild"):
        text = f"{scope}{w[:i]}{rng.choice('?*')}{w[i + 1 :]}"
    elif kind == "wild2":
        # suffix (`*ark`) or infix (`s*rk`); a trailing-only `*` re-parses
        # as a prefix atom, the same match set
        j = rng.randint(1, len(w) - 1)
        text = "*" + w[len(w) // 2 :] if rng.random() < 0.5 else w[:j] + "*" + w[j + 1 :]
    else:  # "nothing"
        text = rng.choice(_NOTHING)
    return text, _expansion_pred(text), {}


def _fuzz_tree(rng, vocab, bigrams, kinds, cursor, depth=0):
    """(text, predicate, scoring terms) of a random AND/OR/NOT tree. Leaf
    kinds cycle through `kinds` (``cursor`` holds the next index), so a
    run of trees draws every kind. Scoring terms under a NOT drop out;
    AND/OR merge their children's, a term keeping its largest boost."""
    if depth < 2 and rng.random() < 0.55:
        op = rng.choice(("and", "or", "not"))
        if op == "not":
            t, p, _s = _fuzz_tree(rng, vocab, bigrams, kinds, cursor, depth + 1)
            return f"(NOT {t})", lambda ts: not p(ts), {}
        kids = [
            _fuzz_tree(rng, vocab, bigrams, kinds, cursor, depth + 1)
            for _ in range(rng.randint(2, 3))
        ]
        preds = [p for _t, p, _s in kids]
        scoring: dict = {}
        for _t, _p, ks in kids:
            for term, w in ks.items():
                scoring[term] = max(scoring.get(term, 1.0), w)
        join = " AND " if op == "and" else " OR "
        fold = all if op == "and" else any
        return "(" + join.join(t for t, _p, _s in kids) + ")", lambda ts: fold(
            p(ts) for p in preds
        ), scoring
    kind = kinds[cursor[0] % len(kinds)]
    cursor[0] += 1
    return _fuzz_atom(rng, vocab, bigrams, kind)


def _fuzz_queries(seed, n, vocab, bigrams):
    """n seeded (text, predicate, scoring terms) queries over every leaf
    kind; every tenth one is wrapped in a top-level NOT so pure negation
    is always drawn."""
    import random

    rng = random.Random(seed)
    cursor = [0]
    out = []
    for i in range(n):
        t, p, sc = _fuzz_tree(rng, vocab, bigrams, _QUERY_KINDS, cursor)
        if i % 10 == 9:
            t, p, sc = f"NOT {t}", (lambda q: lambda ts: not q(ts))(p), {}
        out.append((t, p, sc))
    return out


def _fuzz_registries(seed, n, vocab, bigrams, size=5):
    """n seeded registries of `size` stored queries from the percolator's
    atom subset, none satisfiable by the empty document."""
    import random

    rng = random.Random(seed)
    cursor = [0]
    out = []
    for _ in range(n):
        reg = []
        while len(reg) < size:
            t, p, _sc = _fuzz_tree(rng, vocab, bigrams, _PERC_KINDS, cursor)
            if not p([]):
                reg.append((len(reg) + 1, t, p))
        out.append(reg)
    return out


def _fuzz_corpus(spark):
    """The fixture documents plus empty and punctuation-only docs, their
    token lists, and a vocabulary and bigrams drawn from the corpus so
    atoms actually match."""
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(900001, ""), (900002, "!!! ... ---"), (900003, " ?* ")], docs.schema
    )
    docs = docs.unionByName(extra)
    toks = {r.doc_id: _py_tokenize(r.text) for r in docs.collect()}
    freq: dict = {}
    for ts in toks.values():
        for t in ts:
            freq[t] = freq.get(t, 0) + 1
    vocab = sorted(t for t, c in freq.items() if c >= 5 and len(t) >= 3)[:200]
    bigrams = sorted(
        {
            f"{ts[i]} {ts[i+1]}"
            for ts in list(toks.values())[:100]
            for i in range(len(ts) - 1)
            if len(ts[i]) >= 3 and len(ts[i + 1]) >= 3
        }
    )[:200]
    return docs, toks, vocab, bigrams


def _bm25_oracle(toks):
    """Test-owned BM25 over the token lists (Lucene idf, k1 = 1.2,
    b = 0.75; n_docs and avgdl count every doc, token-empty ones too):
    returns score(doc_id, {term: boost}), the unrounded sum over the
    doc's scoring terms."""
    import math
    from collections import Counter

    tf = {d: Counter(ts) for d, ts in toks.items()}
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    df = Counter(t for c in tf.values() for t in c)

    def score(d, boosts):
        norm = 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl)
        return sum(
            w
            * math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            * tf[d][t] * 2.2 / (tf[d][t] + norm)
            for t, w in boosts.items()
            if tf[d][t]
        )

    return score


def _assert_bm25(rows, toks, scoring, what):
    """Every (doc_id, score) is the Python BM25 rounded at 4dp: within half
    a unit of the 4th decimal (a float tie may round either way)."""
    score = _bm25_oracle(toks)
    for d, s in rows:
        want = score(d, scoring)
        assert abs(s - want) <= 5e-5 + 1e-9, f"{what}: doc {d} scored {s}, BM25 {want}"


def _check_search_trials(spark, docs, toks, queries, prefix):
    from sparkfulltextquery_spark.functions.index import search_indexed
    from sparkfulltextquery_spark.functions.querylang import search

    n = len(toks)
    for text, pred, scoring in queries:
        expected = {d for d, ts in toks.items() if pred(ts)}
        inline = [(r.doc_id, r.score) for r in search(docs, text, k=n).collect()]
        got = {d for d, _s in inline}
        assert got == expected, (
            f"inline mismatch on {text!r}: "
            f"+{sorted(got - expected)[:5]} -{sorted(expected - got)[:5]}"
        )
        _assert_bm25(inline, toks, scoring, text)
        indexed = [
            (r.doc_id, r.score)
            for r in search_indexed(spark, text, k=n, table_prefix=prefix).collect()
        ]
        assert indexed == inline, f"inline and indexed differ on {text!r}"


def _check_percolator_trials(spark, docs, toks, registries, prefix):
    from sparkfulltextquery_spark.functions import fulltext as FT
    from sparkfulltextquery_spark.functions import percolate as P
    from sparkfulltextquery_spark.functions.index import _df_stats_literals, search_indexed
    from sparkfulltextquery_spark.functions.querylang import parse_query, term_boosts

    inline_rel = FT.positional_postings(docs).select("doc_id", "term", "positions")
    idx_vocab = spark.table(f"{prefix}_df").select("term")
    idx_post = spark.table(f"{prefix}_postings")
    rels = {
        "inline": (inline_rel, inline_rel.select("term").distinct()),
        "indexed": (idx_post.select("doc_id", "term", "positions"), idx_vocab),
    }
    scored_rel = idx_post.select("doc_id", "term", "positions", "tf", "dl")
    n = len(toks)
    for reg in registries:
        hits = {qid: sorted(d for d, ts in toks.items() if pred(ts)) for qid, _t, pred in reg}
        expected = [(qid, len(h), h[0]) for qid, h in sorted(hits.items()) if h]
        pairs = sorted((qid, d) for qid, h in hits.items() for d in h)
        stored = [(qid, t) for qid, t, _p in reg]
        term_index = spark.createDataFrame(P.term_index_rows(stored), P.TERM_INDEX_SCHEMA)
        for name, (rel, vocab) in rels.items():
            got = sorted(tuple(r) for r in P._percolate_bool(rel, stored, vocab=vocab).collect())
            assert got == expected, f"{name} mismatch: {stored}\ngot={got}\nexp={expected}"
            # one chunk; then three chunks through the ad-hoc prefilter and
            # through a prebuilt term index, so the driver's prefilter and
            # union run too
            for how, kw in (
                ("one chunk", {}),
                ("ad-hoc prefilter", {"chunk_size": 2}),
                ("term index", {"chunk_size": 2, "term_index": term_index}),
            ):
                got = sorted(
                    tuple(r) for r in P.percolate_matches(rel, stored, vocab=vocab, **kw).collect()
                )
                assert got == pairs, f"{name} matches ({how}) mismatch: {stored}"
        # a stored query scores a doc exactly as search does over the same
        # postings and stats
        terms = sorted({t for _q, text in stored for t in term_boosts(parse_query(text))})
        n_docs, avgdl, df_of = _df_stats_literals(spark, prefix, terms)
        scored = {
            (r.query_id, r.doc_id): r.score
            for r in P.percolate_scored(
                scored_rel, stored, n_docs, avgdl, df_of, vocab=idx_vocab, k=None
            ).collect()
        }
        searched = {
            (qid, r.doc_id): r.score
            for qid, text in stored
            for r in search_indexed(spark, text, k=n, table_prefix=prefix).collect()
        }
        assert scored.keys() == searched.keys(), f"scored match set differs: {stored}"
        for key, s in searched.items():
            assert abs(scored[key] - s) <= 5e-5 + 1e-9, f"{key}: percolated {scored[key]}, search {s}"


@pytest.fixture(scope="module")
def fuzz_index(spark, tmp_path_factory):
    """The fuzz corpus and its persisted index (8 buckets)."""
    from sparkfulltextquery_spark.functions.index import build_index

    docs, toks, vocab, bigrams = _fuzz_corpus(spark)
    path = tmp_path_factory.mktemp("fuzz_idx")
    build_index(docs, table_prefix="fuzz_idx", num_buckets=8, path=f"file://{path}")
    return docs, toks, vocab, bigrams, "fuzz_idx"


def test_query_language_fuzz_inline_indexed_percolator(spark, fuzz_index):
    """Default-tier slice of the query-language fuzz: 30 seeded queries
    and 3 percolator registries (see the block comment above)."""
    docs, toks, vocab, bigrams, prefix = fuzz_index
    queries = _fuzz_queries(20261017, 30, vocab, bigrams)
    # the slice itself covers what it claims: pure negation, boosted
    # scoring terms, and an expansion atom that matches no corpus term
    assert any(p([]) for _t, p, _s in queries)
    assert any(w != 1.0 for _t, _p, sc in queries for w in sc.values())
    assert not any(_expansion_pred(t)(ts) for t in _NOTHING for ts in toks.values())
    _check_search_trials(spark, docs, toks, queries, prefix)
    _check_percolator_trials(
        spark, docs, toks, _fuzz_registries(20261018, 3, vocab, bigrams), prefix
    )


def test_inline_bm25_and_simple_search_equal_indexed_on_empty_docs(spark, fuzz_index):
    """Inline bm25_search, bm25_explain and simple_search count token-empty
    docs in n_docs/avgdl, as the index stats do: over the fuzz corpus
    (three docs without a token) each equals its indexed twin at 4dp, and
    the BM25 scores equal the Python BM25."""
    import random

    from sparkfulltextquery_spark.functions.fulltext import bm25_explain, bm25_search
    from sparkfulltextquery_spark.functions.index import (
        bm25_explain_indexed,
        bm25_search_indexed,
        simple_search_indexed,
    )
    from sparkfulltextquery_spark.functions.querylang import simple_search

    docs, toks, vocab, _bigrams, prefix = fuzz_index
    assert any(not ts for ts in toks.values())
    n = len(toks)
    rng = random.Random(20261019)
    for _ in range(3):
        a, b, c = rng.sample(vocab, 3)
        q = f"{a} {b} {c}"
        inline = bm25_search(docs, q, k=n).collect()
        assert inline == bm25_search_indexed(spark, q, n, prefix).collect(), q
        _assert_bm25(inline, toks, {a: 1.0, b: 1.0, c: 1.0}, q)
        assert sorted(bm25_explain(docs, q, k=n).collect()) == sorted(
            bm25_explain_indexed(spark, q, n, prefix).collect()
        ), q
        sq = f"+{a} {b} -{c}"
        inline = simple_search(docs, sq, k=n).collect()
        assert inline == simple_search_indexed(spark, sq, n, prefix).collect(), sq
        _assert_bm25(inline, toks, {a: 1.0, b: 1.0}, sq)


def test_built_index_tables_equal_python_reference(spark, tmp_path):
    """Every table build_index writes equals a test-owned Python model of
    the index over the fuzz corpus plus an empty, a punctuation-only, a
    NULL-text and a non-ASCII doc: each posting row (term, doc_id, tf,
    sorted positions, dl), each term's df, each doc's dl (0 for a NULL
    text, a token-empty doc), and n_docs/avgdl over every doc."""
    from collections import Counter

    from sparkfulltextquery_spark.functions.index import build_index

    docs, _toks, _vocab, _bigrams = _fuzz_corpus(spark)
    docs = docs.unionByName(
        spark.createDataFrame(
            [
                (900011, ""),
                (900012, "?!... -- //"),
                (900013, None),
                (900014, "Ünïcode café naïve ÄBC x2 日本語 Straße"),
            ],
            docs.schema,
        )
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    toks = {d: None if t is None else _py_tokenize(t) for d, t in texts.items()}
    assert toks[900013] is None
    assert toks[900014] == ["n", "code", "caf", "na", "ve", "bc", "x2", "stra", "e"]

    post: dict = {}
    for d, ts in toks.items():
        for i, t in enumerate(ts or []):
            post.setdefault((t, d), []).append(i)
    want_post = sorted((d, t, len(p), p, len(toks[d])) for (t, d), p in post.items())
    want_df = sorted(Counter(t for t, _d in post).items())
    dls = {d: len(ts or []) for d, ts in toks.items()}

    build_index(docs, table_prefix="ref_idx", num_buckets=4, path=f"file://{tmp_path}",
                term_vectors=False)
    got_post = sorted(
        (r.doc_id, r.term, r.tf, list(r.positions), r.dl)
        for r in spark.table("ref_idx_postings").collect()
    )
    assert got_post == want_post
    assert sorted(tuple(r) for r in spark.table("ref_idx_df").collect()) == want_df
    assert {r.doc_id: r.dl for r in spark.table("ref_idx_dl").collect()} == dls
    st = spark.table("ref_idx_stats").head()
    assert st.n_docs == len(texts)
    assert abs(st.avgdl - sum(dls.values()) / len(dls)) < 1e-12


def test_null_text_is_a_token_empty_doc(spark, tmp_path):
    """A NULL text is a token-empty doc (dl 0) wherever the corpus stats
    are projected: over (1, "a b"), (2, NULL), (3, "") the index reads
    n_docs 3 and avgdl 2/3, and the inline BM25 paths (bm25_search's term
    scores, search's inline index) score exactly as their indexed twins.
    Over scoring docs beside a NULL one, so do inline BM25F and DisMax
    (whose own per-field avgdl once skipped the NULL doc that n_docs
    counts), and the inline phrase and NEAR matchers match as theirs."""
    from sparkfulltextquery_spark.functions import index as IX
    from sparkfulltextquery_spark.functions.fulltext import (
        bm25_search,
        bm25f_search,
        dismax_search,
        doc_lengths,
        phrase_match,
        proximity_match,
        sloppy_phrase_match,
    )
    from sparkfulltextquery_spark.functions.index import (
        bm25_search_indexed,
        build_index,
        search_indexed,
    )
    from sparkfulltextquery_spark.functions.querylang import search

    docs = spark.createDataFrame([(1, "a b"), (2, None), (3, "")], "doc_id long, text string")
    assert sorted(tuple(r) for r in doc_lengths(docs).collect()) == [(1, 2), (2, 0), (3, 0)]
    build_index(docs, table_prefix="null_idx", num_buckets=2, path=f"file://{tmp_path}",
                term_vectors=False)
    st = spark.table("null_idx_stats").head()
    assert st.n_docs == 3 and abs(st.avgdl - 2 / 3) < 1e-12
    assert bm25_search(docs, "a", k=3).collect() == bm25_search_indexed(
        spark, "a", 3, "null_idx"
    ).collect()
    assert search(docs, "a OR zz", k=3).collect() == search_indexed(
        spark, "a OR zz", k=3, table_prefix="null_idx"
    ).collect()

    docs = spark.createDataFrame(
        [
            (1, "spark data query engines run window functions over data and the query plan"),
            (2, "query data"),
            (3, "a window of spark jobs streams data to the engine for query work"),
            (4, "nothing to see"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    build_index(docs, table_prefix="null_fidx", num_buckets=2, path=f"file://{tmp_path}/f",
                term_vectors=False)
    q = "data query spark window"

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for inline, indexed in [
        (bm25f_search(docs, q, k=5), IX.bm25f_search_indexed(spark, q, 5, "null_fidx")),
        (dismax_search(docs, q, k=5), IX.dismax_search_indexed(spark, q, 5, "null_fidx")),
        (phrase_match(docs, "data query"),
         IX.phrase_match_indexed(spark, "data query", "null_fidx")),
        (sloppy_phrase_match(docs, "spark query", 9),
         IX.phrase_match_indexed(spark, "spark query", "null_fidx", slop=9)),
        (proximity_match(docs, "query", "data", 3),
         IX.proximity_match_indexed(spark, "query", "data", 3, "null_fidx")),
    ]:
        got = rows(inline)
        assert got and got == rows(indexed)


@pytest.mark.heavy
def test_random_query_asts_three_way_equivalence(spark, tmp_path):
    from sparkfulltextquery_spark.functions.index import build_index

    docs, toks, vocab, bigrams = _fuzz_corpus(spark)
    build_index(docs, table_prefix="prop_idx", num_buckets=8,
                path=f"file://{tmp_path}/prop_idx")
    _check_search_trials(
        spark, docs, toks, _fuzz_queries(20260814, 24, vocab, bigrams), "prop_idx"
    )


def test_dismax_tiebreak_contract(spark):
    """DisMax semantics contracts (Lucene DisjunctionMaxQuery):
    tie=0 scores exactly the best field; tie=1 degenerates to the
    per-field score SUM; and a doc whose two query terms sit in the SAME
    field outranks one splitting them across fields at tie=0 (the
    'best single field' behavior DisMax exists for)."""
    from sparkfulltextquery_spark.functions.fulltext import dismax_search

    filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    body_fill = " ".join(["lorem"] * 30)
    docs = spark.createDataFrame(
        [
            # doc 1: both terms in the title window
            (1, "needle thread " + filler[len("alpha beta "):] + " " + body_fill),
            # doc 2: terms split across title and body (body padded past the
            # corpus avgdl so its length normalization actually bites — with
            # dl == avgdl in BOTH fields the two placements score identically)
            (2, "needle " + filler[len("alpha "):] + " " + body_fill + " pad pad pad thread"),
            (3, filler + " " + body_fill),
            (4, filler + " " + body_fill + " extra words here"),
        ],
        "doc_id long, text string",
    )
    q = "needle thread"
    t0 = {r.doc_id: r.score for r in dismax_search(docs, q, k=4, tie=0.0).collect()}
    t1 = {r.doc_id: r.score for r in dismax_search(docs, q, k=4, tie=1.0).collect()}
    assert set(t0) == {1, 2}, t0
    # same-field doc wins under pure max semantics
    assert t0[1] > t0[2], t0
    # tie=1 >= tie=0 pointwise (the tiebreak only ever adds score)
    for d in t0:
        assert t1[d] >= t0[d], (d, t0[d], t1[d])


def test_rrf_fusion_invariants(spark):
    """Reciprocal-rank-fusion contracts on the registered hybrid query:
    (1) the fused top-10 only contains docs from the union of the two
    top-20 legs; (2) any doc present in BOTH legs outscores any doc
    present in only one leg at an equal-or-worse rank (1/(60+r) is
    monotone); (3) inline and indexed twins agree exactly."""
    from sparkfulltextquery_spark.registry import REGISTRY
    from tests.conftest import SF_DIR

    inline = [
        (r.doc_id, r.rrf)
        for r in REGISTRY["fulltext_hybrid_rrf"].fn(spark, SF_DIR).collect()
    ]
    indexed = [
        (r.doc_id, r.rrf)
        for r in REGISTRY["fulltext_hybrid_rrf_indexed"].fn(spark, SF_DIR).collect()
    ]
    assert inline == indexed
    assert len(inline) == 10
    scores = [s for _, s in inline]
    assert scores == sorted(scores, reverse=True)
    # both-lists max possible single-list score is 1/61; a doc scoring
    # above that must have been in both lists
    both = [d for d, s in inline if s > round(1 / 61, 6) + 1e-9]
    single_max = 1 / 61
    for d, s in inline:
        if d not in both:
            assert s <= single_max + 1e-9, (d, s)


@pytest.mark.heavy
def test_random_simple_queries_three_way_equivalence(spark, tmp_path):
    """r7: randomized simple_query_string trials — random +MUST / bare
    SHOULD / -MUST_NOT draws from the corpus vocabulary, evaluated three
    ways: naive Python set algebra (match set), the inline simple_search,
    and the one-pass simple_search_indexed. Match sets must agree
    exactly; inline and indexed (doc, score) lists must be identical at
    the 4dp contract."""
    import random

    from sparkfulltextquery_spark.functions import index as IX
    from sparkfulltextquery_spark.functions.index import simple_search_indexed
    from sparkfulltextquery_spark.functions.querylang import simple_search
    from sparkfulltextquery_spark.sources import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    rows = docs.collect()
    toks = {
        r.doc_id: set(re.split(r"[^a-z0-9]+", r.text.lower())) - {""}
        for r in rows
    }
    freq: dict = {}
    for ts in toks.values():
        for t in ts:
            freq[t] = freq.get(t, 0) + 1
    vocab = sorted(t for t, c in freq.items() if c >= 5 and len(t) >= 3)[:200]

    IX.build_index(docs, table_prefix="sq_idx", num_buckets=8,
                   path=f"file://{tmp_path}/sq_idx")
    rng = random.Random(20260815)
    for trial in range(10):
        n_req = rng.randint(0, 2)
        n_opt = rng.randint(0 if n_req else 1, 2)
        n_proh = rng.randint(0, 1)
        picks = rng.sample(vocab, n_req + n_opt + n_proh)
        req, opt = picks[:n_req], picks[n_req : n_req + n_opt]
        proh = picks[n_req + n_opt :]
        q = " ".join(
            [f"+{t}" for t in req] + opt + [f"-{t}" for t in proh]
        )
        has = lambda t: {d for d, ts in toks.items() if t in ts}  # noqa: E731
        if req:
            want = set.intersection(*[has(t) for t in req])
        else:
            want = set.union(*[has(t) for t in opt])
        for p in proh:
            want -= has(p)

        inline = [
            (r.doc_id, r.score)
            for r in simple_search(docs, q, k=len(rows)).collect()
        ]
        assert {d for d, _ in inline} == want, f"trial {trial}: {q}"
        indexed = [
            (r.doc_id, r.score)
            for r in simple_search_indexed(
                spark, q, k=len(rows), table_prefix="sq_idx"
            ).collect()
        ]
        assert inline == indexed, f"trial {trial}: {q}"


@pytest.mark.heavy
def test_random_percolator_registries_three_way_equivalence(spark, tmp_path):
    """Percolation fuzzer: random registries of stored boolean queries
    (term/phrase/prefix/fuzzy/range/regex/wildcard atoms under AND/OR/NOT)
    percolated over the inline positional relation and the persisted
    index must both produce the (query_id, n_docs, first_doc) table of the
    pure-Python predicates. Exercises the registration-time dictionary
    resolution and the shared-scan flag compilation across query shapes
    no hand-written row covers."""
    from sparkfulltextquery_spark.functions.index import build_index

    docs, toks, vocab, bigrams = _fuzz_corpus(spark)
    build_index(docs, table_prefix="perc_idx", num_buckets=8,
                path=f"file://{tmp_path}/perc_idx")
    _check_percolator_trials(
        spark, docs, toks, _fuzz_registries(20260815, 4, vocab, bigrams), "perc_idx"
    )


def test_resolver_core_property_dictionary_equals_bruteforce(spark):
    """Property test for resolve_expansions_over (r8): over random
    synthetic vocabularies, the dictionary-resolved term list for every
    expansion kind must equal brute-force Python evaluation of the same
    predicate, and the max_expansions gate must fire exactly when the
    true match count exceeds the cap."""
    import random

    from sparkfulltextquery_spark.functions.index import resolve_expansions_over

    rng = random.Random(20260816)
    alphabet = "abcdef"
    for trial in range(3):
        vocab_terms = sorted(
            {
                "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 6)))
                for _ in range(300)
            }
        )
        vocab = spark.createDataFrame([(t,) for t in vocab_terms], "term string")
        pfx = rng.choice(vocab_terms)[:2]
        zt = rng.choice(vocab_terms)
        lo, hi = sorted(rng.sample(vocab_terms, 2))
        wild = pfx + "?" + "*"
        keys = [("prefix", pfx), ("fuzzy", (zt, 1)), ("range", (lo, hi)), ("wild", wild)]
        got = resolve_expansions_over(vocab, keys, max_expansions=10**6)

        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                    )
                prev = cur
            return prev[-1]

        want = {
            ("prefix", pfx): [t for t in vocab_terms if t.startswith(pfx)],
            ("fuzzy", (zt, 1)): [t for t in vocab_terms if lev(t, zt) <= 1],
            ("range", (lo, hi)): [t for t in vocab_terms if lo <= t <= hi],
            ("wild", wild): [
                t
                for t in vocab_terms
                if re.fullmatch(wild.replace("*", ".*").replace("?", "."), t)
            ],
        }
        assert got == want, (trial, pfx, zt, lo, hi, wild)

        # the cap fires exactly when the true count exceeds it
        n_pfx = len(want[("prefix", pfx)])
        if n_pfx > 1:
            with pytest.raises(ValueError, match="max_expansions"):
                resolve_expansions_over(
                    vocab, keys[:1], max_expansions=n_pfx - 1
                )
        resolve_expansions_over(vocab, keys[:1], max_expansions=n_pfx)


@pytest.mark.heavy
def test_auto_pq_config_recall_and_retention_contract(spark):
    """Full-auto IVF-PQ contract (r11, VERDICT r10 #2+#4): with NO knobs
    passed anywhere — pq_train(emb), pq_encode(emb, literals=lit),
    ivfpq_topk(emb, v, k=10, literals=lit, codes=codes) — a clustered
    corpus past the 10⁴-vector threshold must (a) auto-select the
    trained-256 4-dim-subspace configuration the SCALE.md decade table
    proved, (b) RETAIN ≥95% of the 256 codes at production L (the
    split-reseed repair: the trainer used to silently shrink the codebook
    when codes emptied), and (c) hold mean recall@10 ≥ 0.9. The small-
    corpus branch of auto_pq_config is pinned arithmetically."""
    from sparkfulltextquery_spark.similarity import (
        auto_pq_config,
        cosine_topk,
        ivfpq_topk,
        pq_encode,
        pq_train,
    )

    # small-corpus branch: label codebook, shortlist covers the pool
    assert auto_pq_config(64, 2_000, 10) == {
        "m": 8,
        "codes": None,
        "shortlist_k": 400,
    }
    assert auto_pq_config(64, 200_000, 10) == {
        "m": 16,
        "codes": 256,
        "shortlist_k": 400,
    }
    assert auto_pq_config(64, 20_000, 10) == {
        "m": 16,
        "codes": 256,
        "shortlist_k": 100,
    }
    # subspace width snaps to the largest divisor of dim <= target: dim 50
    # has no 4- or 3-dim split, so 2-dim subspaces (m=25); dim 96 takes 4
    assert auto_pq_config(50, 20_000, 10)["m"] == 25
    assert auto_pq_config(96, 20_000, 10)["m"] == 24
    assert auto_pq_config(96, 2_000, 10)["m"] == 12  # 8-dim below 10^4

    rows = _planted_cluster_corpus(n=12_000)
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()
    emb.count()
    try:
        lit = pq_train(emb)  # no knobs
        assert lit["m"] == 16 and lit["sub"] == 4
        assert "shortlist_k" in lit
        # code retention at production L: ≥95% of 256 across ALL subspaces
        assert len(lit["labels"]) >= 0.95 * 256, (
            f"trained codebook retained only {len(lit['labels'])}/256 codes"
        )
        codes = pq_encode(emb, literals=lit).cache()  # no knobs
        assert codes.count() == len(rows)
        queries = [(vid, v) for vid, v, _l in rows if vid % 1000 == 0][:12]
        rs = []
        for _qid, v in queries:
            truth = {r.vec_id for r in cosine_topk(emb, v, k=10).collect()}
            got = {
                r.vec_id
                for r in ivfpq_topk(
                    emb, v, k=10, literals=lit, codes=codes
                ).collect()  # no knobs
            }
            rs.append(len(got & truth) / 10.0)
        mean_r = sum(rs) / len(rs)
        assert mean_r >= 0.9, f"full-auto recall@10 {mean_r:.3f} < 0.9"
    finally:
        emb.unpersist()


def test_pq_trainer_split_reseed_deterministic(spark):
    """The split-reseed step in isolation: emptied codes are reseeded at
    the round's farthest assigned subvectors (d2 desc, vec_id asc),
    skipping 6dp-duplicates of surviving codewords and earlier seeds —
    in ascending code order. Pinned row-for-row."""
    from sparkfulltextquery_spark.similarity import _reseed_codes

    assigned = spark.createDataFrame(
        [
            (1, 0, {"d2": 0.9, "code": 1}, [1.0, 1.0]),  # dup of codeword → skip
            (2, 0, {"d2": 0.8, "code": 1}, [0.9, 0.0]),
            (3, 0, {"d2": 0.8, "code": 1}, [0.1, 0.1]),  # d2 tie → vec_id 2 first
            (4, 0, {"d2": 0.2, "code": 1}, [0.4, 0.4]),
            (5, 1, {"d2": 0.7, "code": 2}, [0.3, 0.3]),
        ],
        "vec_id long, s int, best struct<d2:double,code:int>, msv array<double>",
    )
    # r13: the trainer keeps the codebook as driver rows between rounds —
    # _reseed_codes takes those rows and returns ONLY the new seeds (the
    # caller concatenates them onto the survivors)
    cents_rows = [
        {"s": 0, "code": 1, "c": [1.0, 1.0]},
        {"s": 1, "code": 2, "c": [0.0, 0.0]},
    ]
    out = _reseed_codes(assigned, cents_rows, [(0, 2), (0, 3), (1, 3)])
    got = {(r["s"], r["code"]): tuple(r["c"]) for r in out}
    # subspace 0: vec_id 1 is farthest but 6dp-equals the surviving
    # codeword → skipped; code 2 seeds at vec_id 2 (d2 tie broken by
    # vec_id asc), code 3 at vec_id 3. subspace 1: code 3 at vec_id 5.
    assert got == {
        (0, 2): (0.9, 0.0),
        (0, 3): (0.1, 0.1),
        (1, 3): (0.3, 0.3),
    }
    # survivors are untouched driver state
    assert cents_rows[0]["c"] == [1.0, 1.0] and cents_rows[1]["c"] == [0.0, 0.0]


def test_semdedup_gram_tiling_matches_untiled_on_skewed_cluster():
    """r13 (VERDICT r12 #3): _gram_prune_pdf tiles the per-cluster Gram in
    fixed row blocks so a skewed giant cluster no longer materializes its
    n_c×n_c matrix in one Python worker. Fixture: one deliberately giant
    cluster (n_c chosen so the tile loop runs MANY blocks: blk = 4M//n_c)
    — the tiled mask must equal the untiled strict-upper-triangle mask
    element for element."""
    import pandas as pd

    from sparkfulltextquery_spark.dedup.queries import _gram_prune_pdf

    rng = np.random.RandomState(7)
    n_c, dim, tau = 6000, 8, 0.4  # blk = 4M//6000 = 699 → 9 tiles
    V = rng.randn(n_c, dim)
    # plant exact duplicates and near-duplicates so the mask is non-trivial
    V[1] = V[0]
    V[100] = V[50] + 1e-9
    pdf = pd.DataFrame({"vec_id": np.arange(n_c, dtype=np.int64), "v": list(V)})
    got = set(_gram_prune_pdf(pdf, tau)["vec_id"])
    nrm = np.sqrt((V * V).sum(axis=1))
    S = np.round((V @ V.T) / np.outer(nrm, nrm), 6)
    want = set(np.arange(n_c)[np.triu(S >= tau, 1).any(axis=0)])
    assert got == want and 1 in got and 100 in got
    # the tile really is bounded: the loop never allocates more than
    # blk × n_c floats (~32 MB) per block
    assert max(1, (4 << 20) // n_c) < n_c


def test_argmin_broadcast_reused_per_centroid_generation(spark):
    """r13 (VERDICT r12 #5): repeated kmeans_assign calls against the SAME
    centroid generation (the ANN lifecycle's per-micro-batch ingest
    assignment) must reuse ONE broadcast — and a new generation must
    replace (unpersist) the old one instead of leaking it."""
    from sparkfulltextquery_spark import similarity as S

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(20)],
        "vec_id long, v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 4.0])], "cluster int, c array<double>"
    )
    before = S._BC_CREATED
    outs = [
        {tuple(r) for r in S.kmeans_assign(vecs, cents, vec_col="v").collect()}
        for _ in range(4)
    ]
    assert S._BC_CREATED == before + 1  # 4 micro-batches, ONE broadcast
    assert all(o == outs[0] for o in outs)
    cents2 = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [3.0, 3.0])], "cluster int, c array<double>"
    )
    S.kmeans_assign(vecs, cents2, vec_col="v").collect()
    assert S._BC_CREATED == before + 2  # new generation → one new broadcast
    # and the first generation still works after being superseded
    # (unpersist is recoverable — the driver re-ships on demand)
    again = {tuple(r) for r in S.kmeans_assign(vecs, cents, vec_col="v").collect()}
    assert again == outs[0]
