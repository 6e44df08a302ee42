"""Self-test of the benchmark at tiny size.

    python3 -m pytest perfbench/tests -q

The checker tests are pure Python. ``test_every_metric_emitted`` runs each
workload end to end on about a thousand documents, in a fresh process per
run (one JVM each, one to two minutes apiece), compares the printed metric
names and units with BENCHMARK.json, and checks that every metric of a
layer the workload calls reads above 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle  # noqa: E402
from perfbench.workloads import Result  # noqa: E402


@pytest.fixture(scope="module")
def corpus():
    return gen.make_corpus(5, 300, 2000)


@pytest.fixture(scope="module")
def idx(corpus):
    return oracle.TextIndex(corpus.doc_ids, corpus.tokens)


def _topk(ref: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(ref.items(), key=lambda r: (-r[1], r[0]))[:k]


def test_reference_topk_passes_and_corruptions_fail(corpus, idx):
    q = " ".join(corpus.vocab[5:8])
    ref = idx.bm25(q)
    rows = _topk(ref, 10)
    assert len(rows) == 10 and oracle.check_topk(rows, ref, 10) == []

    wrong_score = [(rows[0][0], rows[0][1] + 0.01)] + rows[1:]
    outsider = next(d for d in corpus.doc_ids if d not in ref)
    wrong_doc = rows[:-1] + [(outsider, rows[-1][1])]
    skipped_best = rows[1:] + [_topk(ref, 11)[-1]]
    for bad in (wrong_score, wrong_doc, rows[:-1], skipped_best, rows[::-1]):
        res = Result()
        res.check("bm25", oracle.check_topk(bad, ref, 10))
        assert (res.attempted, res.failed) == (1, 1), bad


def test_boolean_hits_are_checked(corpus, idx):
    a, b = corpus.vocab[3], corpus.vocab[4]
    want = idx.matches(f"{a} AND NOT {b}")
    assert want and want == idx.docs(a) - idx.docs(b)
    hits = sorted(want)[:10]
    assert oracle.check_hits(hits, want, 10) == []
    intruder = min(idx.docs(b))
    assert oracle.check_hits(hits[:-1] + [intruder], want, 10)
    assert oracle.check_hits(hits[:-1], want, 10)
    assert oracle.check_hits(hits[:-1] + hits[:1], want, 10)


def test_query_forms_evaluate_over_tokens(corpus, idx):
    toks = corpus.tokens[0]
    assert 0 in idx.matches(f'"{toks[0]} {toks[1]}"')
    w = toks[2]
    assert 0 in idx.matches(f"{w[:3]}*")
    assert 0 in idx.matches(f"{w[:-1]}{'b' if w[-1] == 'a' else 'a'}~1")
    assert 0 in idx.matches(f"{w[0]}?{w[2:4]}*")
    assert idx.matches(f"({toks[0]} OR {toks[1]}) AND {toks[2]}") >= {0}


def test_posting_and_stats_corruptions_fail(corpus):
    rows = sum(len(set(t)) for t in corpus.tokens)
    assert oracle.check_postings(rows, corpus.n_tokens, corpus.tokens) == []
    assert oracle.check_postings(rows - 1, corpus.n_tokens, corpus.tokens)
    assert oracle.check_postings(rows, corpus.n_tokens + 1, corpus.tokens)
    assert oracle.check_stats(len(corpus.tokens), corpus.avgdl, corpus.tokens) == []
    assert oracle.check_stats(len(corpus.tokens) + 1, corpus.avgdl, corpus.tokens)
    assert oracle.check_stats(len(corpus.tokens), corpus.avgdl * 1.001, corpus.tokens)


def test_alert_set_corruptions_fail(corpus, idx):
    queries = gen.stored_queries(5, corpus, 40, 100)
    want = sorted((qid, d) for qid, q in queries for d in idx.matches(q))
    assert want and oracle.check_alerts(want, queries, idx) == []
    outsider = next((q, d) for q in range(1, 41) for d in corpus.doc_ids if (q, d) not in want)
    for bad in (want[1:], want + [outsider], want + want[:1]):
        res = Result()
        res.check("alerts", oracle.check_alerts(bad, queries, idx))
        assert (res.attempted, res.failed) == (1, 1)


def test_dedup_reference_finds_planted_copies_and_checks_pairs(corpus):
    from sparkfulltextquery_spark.dedup import minhash as MH

    ids, texts = gen.near_dup_docs(5, corpus, 100, 5)
    want = oracle.minhash_pairs(
        ids, texts, MH.MINHASH_PERMS, MH.MINHASH_PRIME, MH.ROWS_PER_BAND, 0.5
    )
    exact = [p for p, j in want.items() if j == 1.0]
    assert len(exact) >= 5
    got = [(a, b, j) for (a, b), j in sorted(want.items())]
    assert oracle.check_pairs(got, want) == []
    a, b, j = got[0]
    assert oracle.check_pairs(got[1:], want)
    assert oracle.check_pairs([(a, b, j - 0.01)] + got[1:], want)
    assert oracle.check_pairs(got + [(a, b + 1000, 0.6)], want)


def test_score_and_ranking_corruptions_fail(corpus):
    from sparkfulltextquery_spark.curation.classifier import BIAS, WEIGHTS

    q = oracle.quality_scores(corpus.doc_ids[:50], corpus.texts[:50], WEIGHTS, BIAS)
    assert oracle.check_scores(q, q, 2e-6) == []
    assert oracle.check_scores({**q, 0: q[0] + 1e-5}, q, 2e-6)
    assert oracle.check_scores({d: v for d, v in q.items() if d}, q, 2e-6)

    vecs = gen.embeddings(5, 60, 8).tolist()
    ranking = oracle.cosine_ranking(vecs[:50], vecs[50])
    top = [(i, round(c, 6)) for i, c in ranking[:10]]
    assert oracle.check_nearest(top, ranking, 10) == []
    assert oracle.check_nearest(top[:9] + [ranking[10]], ranking, 10)
    assert oracle.check_nearest(top[:9], ranking, 10)

    edges = gen.graph(5, 30, 100)
    pr = oracle.pagerank(30, edges, 3, 0.85)
    assert abs(sum(pr.values()) - 1.0) < 0.2
    assert oracle.check_scores({**pr, 3: pr[3] * 1.001}, pr, 1e-12)


def test_generation_is_seeded(corpus):
    again = gen.make_corpus(5, 300, 2000)
    assert again.texts == corpus.texts
    assert gen.search_mix(5, corpus, 40) == gen.search_mix(5, again, 40)
    assert gen.make_corpus(6, 300, 2000).texts != corpus.texts


# tiny sizes for the end-to-end runs, patched in before the workload starts
_TINY = """
import sys
sys.path.insert(0, {root!r})
import perfbench.workloads as W
W.SERVE_DOCS, W.SERVE_MIN_QUERIES = 1000, 8
W.INGEST_FILE_DOCS, W.INGEST_ROUNDS = 300, 1
from perfbench.run import main
sys.exit(main(sys.argv[1:]))
"""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["search_serve", "index_ingest"])
def test_every_metric_emitted(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert workload in {w["name"] for w in spec["workloads"]}
    out = subprocess.run(
        [sys.executable, "-c", _TINY.format(root=ROOT), "--workload", workload,
         "--seed", "3", "--seconds", "4", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec_metrics = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m: v["unit"] for m, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec_metrics
    }
    values = {m: v["value"] for m, v in res["metrics"].items()}
    touched = [
        m for m in values
        if m.startswith(_TOUCHED[workload]) and not m.endswith(_MAY_BE_ZERO)
    ]
    assert not trace or len(touched) > 10
    assert [m for m in (touched if trace else values) if not values[m] > 0] == []


# the layers each workload calls: a traced run must give each of their
# metrics a positive value; spill and GC may truly be 0 on tiny inputs
_TOUCHED = {
    "search_serve": (
        "session.", "sources.", "index.", "spark.", "querylang.", "percolate.",
        "dedup.", "curation.", "similarity.", "operators.", "trace.",
    ),
    "index_ingest": ("session.", "sources.", "index.build", "index_stream.", "trace."),
}
_MAY_BE_ZERO = ("_spill_mb", "_gc_ms")
