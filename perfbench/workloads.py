"""The benchmark's workloads. Each is a function ``(ctx) -> Result``.

A workload runs in a fresh process against one ``local[nproc]`` session,
with one client issuing calls in a closed loop. It does a fixed amount of
work for a given seed and ``--seconds`` value, checks every output against
``oracle`` outside the timed region, and reports the same three end-to-end
metrics (``setup_s``, ``op_p50_ms``, ``work_s``) plus, in a traced run,
the per-layer metrics of ``LAYER_METRICS``.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen, oracle
from perfbench.trace import Counters, Span, Tracer, catalyst_ms, counters_by_group

K = 10  # top-k of every search
BUCKETS = 8  # posting buckets: a few per core for these corpus sizes
DOC_SCHEMA = "doc_id long, text string"


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, what: str, bad: list[str]) -> None:
        """Count one operation; a non-empty problem list fails it."""
        self.attempted += 1
        if bad:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(bad[:3])}")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    tmp: str
    session_s: float

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def load_docs(ctx: Ctx, corpus: gen.Corpus, name: str):
    """Write the generated docs as ``<name>/documents.parquet`` and read them
    back through the engine's table loader."""
    from sparkfulltextquery_spark.sources import load_table

    d = ctx.path(name)
    os.makedirs(d, exist_ok=True)
    gen.write_docs(os.path.join(d, "documents.parquet"), corpus.doc_ids, corpus.texts)
    with ctx.tracer.span("sources.load_table"):
        return load_table(ctx.spark, d, "documents")


def write_batches(ctx: Ctx, corpus: gen.Corpus, name: str, per_file: int) -> str:
    d = ctx.path(name)
    os.makedirs(d, exist_ok=True)
    texts = corpus.texts
    for i in range(0, len(texts), per_file):
        gen.write_docs(
            os.path.join(d, f"part-{i // per_file:04d}.parquet"),
            corpus.doc_ids[i : i + per_file],
            texts[i : i + per_file],
        )
    return d


def doc_stream(ctx: Ctx, src: str):
    return (
        ctx.spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def build(ctx: Ctx, docs, prefix: str, span: str = "index.build") -> float:
    from sparkfulltextquery_spark.functions.index import build_index

    gc.collect()
    t = time.perf_counter()
    with ctx.tracer.span(span):
        # no forward index: only more-like-this reads it, and neither workload does
        build_index(docs, prefix, num_buckets=BUCKETS, term_vectors=False)
    return time.perf_counter() - t


def check_index(ctx: Ctx, res: Result, prefix: str, corpus: gen.Corpus) -> None:
    st = ctx.spark.table(f"{prefix}_stats").head()
    res.check("index stats", oracle.check_stats(int(st.n_docs), float(st.avgdl), corpus.tokens))
    res.check("index postings", posting_problems(ctx.spark.table(f"{prefix}_postings"), corpus))


def posting_problems(post, corpus: gen.Corpus) -> list[str]:
    from pyspark.sql import functions as F

    rows, sum_tf = post.agg(F.count("*"), F.sum("tf")).head()
    return oracle.check_postings(int(rows), int(sum_tf or 0), corpus.tokens)


def common_layers(ctx: Ctx, groups) -> dict[str, float]:
    loads = ctx.tracer.find("sources.load_table")
    return {
        "sources.load_table_ms": median(s.ms for s in loads),
        "sources.load_table_jobs": sum(
            groups.get(s.group, Counters()).jobs for s in loads
        ) / len(loads),
    }


def batch_progress(q) -> list[dict]:
    """Per-micro-batch durations of a finished stream, in batch order."""
    out = [
        {"batch": p.batchId, **p.durationMs}
        for p in q.recentProgress
        if p.numInputRows > 0
    ]
    return sorted(out, key=lambda p: p["batch"])


# ---------------- search_serve ----------------

SERVE_DOCS = 10000
SERVE_VOCAB = 30000
SERVE_QUERIES_PER_S = 2  # the mix has 2 x --seconds queries ...
SERVE_MIN_QUERIES = 30  # ... and at least this many
SERVE_WARMUP_QUERIES = 8


def search_serve(ctx: Ctx) -> Result:
    from sparkfulltextquery_spark.functions.index import (
        bm25_search_indexed,
        search_indexed,
    )

    res, spark, tr = Result(), ctx.spark, ctx.tracer
    t = time.perf_counter()
    corpus = gen.make_corpus(ctx.seed, SERVE_DOCS, SERVE_VOCAB)
    docs = load_docs(ctx, corpus, "serve")
    mix = gen.search_mix(ctx.seed, corpus, max(SERVE_MIN_QUERIES, SERVE_QUERIES_PER_S * ctx.seconds))
    gen_s = time.perf_counter() - t
    builds = [build(ctx, docs, "pb_serve")]
    t = time.perf_counter()
    # warm the query path (every kind, the JIT) on texts outside the mix
    for kind, text in gen.search_mix(ctx.seed + 10**6, corpus, SERVE_WARMUP_QUERIES):
        call = bm25_search_indexed if kind == "bm25" else search_indexed
        call(spark, text, K, "pb_serve").collect()
    warm_s = time.perf_counter() - t

    lat, rows_of, seen, traced = [], [], {}, []
    gc.collect()
    for i, (kind, text) in enumerate(mix):
        call = bm25_search_indexed if kind == "bm25" else search_indexed
        try:
            with tr.span("search", i, kind=kind):
                t0 = time.perf_counter()
                with tr.span("index.search_construct", i) as sc:
                    df = call(spark, text, K, "pb_serve")
                with tr.span("spark.search_collect", i) as cc:
                    rows = df.collect()
                lat.append(time.perf_counter() - t0)
        except Exception as e:  # a failed query is counted, not fatal
            rows_of.append((kind, text, None, repr(e)))
            continue
        rows_of.append((kind, text, [(int(r.doc_id), float(r.score)) for r in rows], None))
        if tr.enabled:
            # a plan served from the compiled-plan cache runs no Catalyst
            # phase; ``seen`` keeps each plan alive so its id is not reused
            phases = {} if id(df) in seen else catalyst_ms(df)
            seen[id(df)] = df
            traced.append(TracedSearch(kind, sc, cc, phases))

    check_index(ctx, res, "pb_serve", corpus)
    idx = oracle.TextIndex(corpus.doc_ids, corpus.tokens)
    for kind, text, rows, err in rows_of:
        if err is not None:
            res.check(f"{kind} {text!r}", [err])
        elif kind == "bm25":
            res.check(f"bm25 {text!r}", oracle.check_topk(rows, idx.bm25(text), K))
        else:
            res.check(
                f"{kind} {text!r}",
                oracle.check_hits([d for d, _ in rows], idx.matches(text), K),
            )
    res.e2e = {
        "setup_s": ctx.session_s + gen_s + builds[0] + warm_s,
        "op_p50_ms": median(lat) * 1000,
        "work_s": sum(lat),
    }
    if tr.enabled:
        spans = layer_probe(ctx, res, corpus, "pb_serve")
        groups = counters_by_group(spark)
        res.layer.update(common_layers(ctx, groups))
        res.layer.update(serve_layers(groups, traced, lat))
        res.layer.update(build_layers(ctx, groups, builds, SERVE_DOCS))
        res.layer.update(probe_layers(groups, spans))
    return res


@dataclass
class TracedSearch:
    kind: str
    construct: Span
    collect: Span
    phases: dict[str, float]


def serve_layers(groups, traced: list[TracedSearch], lat) -> dict[str, float]:
    n = len(traced)
    cons = [t.construct.ms for t in traced]
    cons_jobs = [groups.get(t.construct.group, Counters()).jobs for t in traced]
    coll = [groups.get(t.collect.group, Counters()) for t in traced]
    # a hit is a construction that ran no Spark job: its compiled plan or
    # all of its df/stats literals and expansions came from the caches
    hit = [j == 0 for j in cons_jobs]
    out = {
        "index.search_construct_p50_ms": median(cons),
        "index.search_construct_jobs_per_query": sum(cons_jobs) / n,
        "index.plan_cache_hit_frac": sum(hit) / n,
        "index.search_construct_hit_p50_ms": median(c for c, h in zip(cons, hit) if h),
        "index.search_construct_miss_p50_ms": median(c for c, h in zip(cons, hit) if not h),
        "spark.search_collect_p50_ms": median(t.collect.ms for t in traced),
        "spark.jobs_per_query": (sum(c.jobs for c in coll) + sum(cons_jobs)) / n,
        "spark.stages_per_query": sum(c.stages for c in coll) / n,
        "spark.tasks_per_query": sum(c.tasks for c in coll) / n,
        "trace.op_p50_ms": median(lat) * 1000,
        "trace.work_s": sum(lat),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"spark.catalyst_{phase}_ms"] = median(t.phases.get(phase, 0.0) for t in traced)
    for kind in gen.KINDS:
        out[f"querylang.{kind}_p50_ms"] = median(
            t.construct.ms + t.collect.ms for t in traced if t.kind == kind
        )
    return out


def build_layers(ctx: Ctx, groups, builds: list[float], n_docs: int) -> dict[str, float]:
    spans = ctx.tracer.find("index.build")
    # the median build by wall time stands for all of them
    s = sorted(spans, key=lambda s: s.ms)[len(spans) // 2]
    c = groups.get(s.group, Counters())
    cores = ctx.spark.sparkContext.defaultParallelism
    return {
        "index.build_s": median(builds),
        "index.build_docs_per_s": n_docs / median(builds),
        "index.build_jobs": c.jobs,
        "index.build_stages": c.stages,
        "index.build_shuffle_write_mb": c.shuffle_write_mb,
        "index.build_spill_mb": c.spill_mb,
        "index.build_gc_ms": c.gc_ms,
        "index.build_executor_cpu_s": c.cpu_ms / 1000,
        "index.build_core_util": c.run_ms / (s.ms * cores),
    }


# ---------------- traced layer probe ----------------

PROBE_DOCS = 400  # documents the percolate, dedup and curation calls read
# stored queries: above MAX_COMPILE_QUERIES (250), so the term-index
# prefilter and the chunked compile run
PROBE_QUERIES = 300
PROBE_DUPS = 20  # exact and one-token-off copies added for dedup
PROBE_VECS, PROBE_DIM, PROBE_NEAREST = 4000, 32, 3
PROBE_NODES, PROBE_EDGES, PR_ITERS, PR_DAMPING = 300, 2000, 3, 0.85


def layer_probe(ctx: Ctx, res: Result, corpus: gen.Corpus, prefix: str) -> dict[str, list[Span]]:
    """One call into each layer the search loop does not reach — percolate,
    dedup, curation, similarity, operators — on small seeded inputs, each
    in its own span and checked against ``oracle``. Runs only in a traced
    run, after the end-to-end figures are taken. Returns the spans by
    metric stem."""
    from pyspark.sql import functions as F

    from sparkfulltextquery_spark.curation.classifier import BIAS, WEIGHTS, quality_logit_score
    from sparkfulltextquery_spark.dedup import minhash as MH
    from sparkfulltextquery_spark.functions.percolate import (
        percolate_from_table,
        register_percolator_queries,
    )
    from sparkfulltextquery_spark.operators.graph import pagerank
    from sparkfulltextquery_spark.similarity import cosine_topk

    spark, tr = ctx.spark, ctx.tracer
    spans: dict[str, list[Span]] = {}

    def call(stem: str, fn):
        gc.collect()
        with tr.span(stem) as s:
            out = fn()
        spans.setdefault(stem, []).append(s)
        return out

    queries = gen.stored_queries(ctx.seed, corpus, PROBE_QUERIES, PROBE_DOCS)
    table = call(
        "percolate.register",
        lambda: register_percolator_queries(spark, queries, table=f"{prefix}_percolator"),
    )
    rel = (
        spark.table(f"{prefix}_postings")
        .filter(F.col("doc_id") < PROBE_DOCS)
        .select("doc_id", "term", "positions")
    )
    alerts = call(
        "percolate.match",
        lambda: percolate_from_table(spark, rel, table=table, matches=True).collect(),
    )
    probe_idx = oracle.TextIndex(corpus.doc_ids[:PROBE_DOCS], corpus.tokens[:PROBE_DOCS])
    alerts = [(int(r.query_id), int(r.doc_id)) for r in alerts]
    res.check("percolate alerts", oracle.check_alerts(alerts, queries, probe_idx))

    ids, texts = gen.near_dup_docs(ctx.seed, corpus, PROBE_DOCS, PROBE_DUPS)
    docs = spark.createDataFrame(list(zip(ids, texts)), DOC_SCHEMA)
    pairs = call("dedup.minhash_pairs", lambda: MH.verified_near_dups(docs, 0.5).collect())
    want = oracle.minhash_pairs(
        ids, texts, MH.MINHASH_PERMS, MH.MINHASH_PRIME, MH.ROWS_PER_BAND, 0.5
    )
    got = [(int(r.doc_a), int(r.doc_b), float(r.jaccard)) for r in pairs]
    res.check("dedup pairs", oracle.check_pairs(got, want))

    scores = call("curation.quality_logit", lambda: quality_logit_score(docs).collect())
    res.check(
        "quality scores",
        oracle.check_scores(
            {int(r.doc_id): float(r.quality_score) for r in scores},
            oracle.quality_scores(ids, texts, WEIGHTS, BIAS),
            2e-6,
        ),
    )

    vecs = gen.embeddings(ctx.seed, PROBE_VECS + PROBE_NEAREST, PROBE_DIM).tolist()
    emb = spark.createDataFrame(
        list(enumerate(vecs[:PROBE_VECS])), "vec_id int, embedding array<double>"
    )
    for q in vecs[PROBE_VECS:]:
        top = call("similarity.cosine_topk", lambda: cosine_topk(emb, q, K).collect())
        got = [(int(r.vec_id), float(r.cosine)) for r in top]
        res.check("cosine top-k", oracle.check_nearest(got, oracle.cosine_ranking(vecs[:PROBE_VECS], q), K))

    edges = gen.graph(ctx.seed, PROBE_NODES, PROBE_EDGES)
    nodes = spark.createDataFrame([(v,) for v in range(PROBE_NODES)], "node int")
    edge_df = spark.createDataFrame(edges, "src int, dst int, w int")
    ranks = call(
        "operators.pagerank",
        lambda: pagerank(nodes, edge_df, iters=PR_ITERS, damping=PR_DAMPING).collect(),
    )
    res.check(
        "pagerank",
        oracle.check_scores(
            {int(r.node): float(r.pr) for r in ranks},
            oracle.pagerank(PROBE_NODES, edges, PR_ITERS, PR_DAMPING),
            1e-12,
        ),
    )
    return spans


def probe_layers(groups, spans: dict[str, list[Span]]) -> dict[str, float]:
    out = {}
    for stem, ss in spans.items():
        out[f"{stem}_ms"] = median(s.ms for s in ss)
        out[f"{stem}_jobs"] = median(groups.get(s.group, Counters()).jobs for s in ss)
    out["percolate.register_s"] = out.pop("percolate.register_ms") / 1000
    m = groups.get(spans["percolate.match"][0].group, Counters())
    out.update(
        {
            "percolate.match_stages": m.stages,
            "percolate.match_shuffle_mb": m.shuffle_write_mb,
            "percolate.match_executor_cpu_ms": m.cpu_ms,
        }
    )
    return out


# ---------------- index_ingest ----------------


def ingest_round(ctx: Ctx, docs, src: str, name: str, build_span: str = "index.build"):
    """Batch build, then stream the same docs into a compacted, published
    generation. Returns (build_s, ingest_s, stream, compact span, postings)."""
    from sparkfulltextquery_spark.functions.index_stream import (
        compact_posting_segments,
        publish_generation,
        read_current_postings,
        stream_update_postings,
    )

    spark, tr = ctx.spark, ctx.tracer
    build_s = build(ctx, docs, f"pb_{name}", build_span)
    root = ctx.path(f"index_{name}")
    live, gen_dir = f"{root}/live", f"{root}/gen-1"
    gc.collect()
    t0 = time.perf_counter()
    with tr.span("index_stream.ingest"):
        q = stream_update_postings(doc_stream(ctx, src), live, f"{root}/ckpt")
        q.awaitTermination()
        with tr.span("index_stream.compact") as cp:
            compact_posting_segments(spark, live, gen_dir)
        publish_generation(root, gen_dir)
    ingest_s = time.perf_counter() - t0
    return build_s, ingest_s, q, cp, read_current_postings(spark, root, live)


INGEST_VOCAB = 30000
INGEST_FILE_DOCS = 2500  # one stream input file, so one micro-batch
INGEST_SECONDS_PER_FILE = 8  # a round streams max(2, round(--seconds / 8)) files
INGEST_ROUNDS = 3  # timed, after one untimed warm-up round


def index_ingest(ctx: Ctx) -> Result:
    res, tr = Result(), ctx.tracer
    n_docs = INGEST_FILE_DOCS * max(2, round(ctx.seconds / INGEST_SECONDS_PER_FILE))
    t = time.perf_counter()
    corpus = gen.make_corpus(ctx.seed, n_docs, INGEST_VOCAB)
    docs = load_docs(ctx, corpus, "ingest")
    src = write_batches(ctx, corpus, "ingest_stream", INGEST_FILE_DOCS)
    # an untimed round over the first file warms the JVM and codegen
    n = INGEST_FILE_DOCS
    first = gen.Corpus(corpus.vocab, corpus.doc_ids[:n], corpus.tokens[:n])
    warm_src = write_batches(ctx, first, "ingest_warmup_stream", n)
    *_, post = ingest_round(ctx, load_docs(ctx, first, "ingest_warmup"), warm_src, "warmup", "index.build_warmup")
    setup_s = ctx.session_s + time.perf_counter() - t
    res.check("ingest warm-up round", posting_problems(post, first))

    builds, ingests, batches, streams, compacts = [], [], [], [], []
    for r in range(INGEST_ROUNDS):
        b, i, q, cp, post = ingest_round(ctx, docs, src, f"round{r}")
        builds.append(b)
        ingests.append(i)
        batches.extend(batch_progress(q))
        streams.append(str(q.runId))
        compacts.append(cp)
        res.check(f"ingest round {r}", posting_problems(post, corpus))
    check_index(ctx, res, "pb_round0", corpus)

    res.e2e = {
        "setup_s": setup_s,
        "op_p50_ms": median(b["triggerExecution"] for b in batches),
        "work_s": median(b + i for b, i in zip(builds, ingests)),
    }
    if tr.enabled:
        groups = counters_by_group(ctx.spark)
        res.layer.update(common_layers(ctx, groups))
        res.layer.update(build_layers(ctx, groups, builds, n_docs))
        n_batches = len(batches)
        stream_jobs = sum(groups.get(run, Counters()).jobs for run in streams)
        comp = [groups.get(c.group, Counters()) for c in compacts]
        res.layer.update(
            {
                "index_stream.ingest_docs_per_s": n_docs / median(ingests),
                "index_stream.batch_p50_ms": res.e2e["op_p50_ms"],
                "index_stream.add_batch_p50_ms": median(b["addBatch"] for b in batches),
                "index_stream.trigger_overhead_p50_ms": median(
                    b["triggerExecution"] - b["addBatch"] for b in batches
                ),
                "index_stream.jobs_per_batch": stream_jobs / n_batches,
                "index_stream.compact_s": median(c.ms for c in compacts) / 1000,
                "index_stream.compact_shuffle_mb": median(c.shuffle_write_mb for c in comp),
                "trace.op_p50_ms": res.e2e["op_p50_ms"],
                "trace.work_s": res.e2e["work_s"],
            }
        )
    return res


WORKLOADS = {
    "search_serve": search_serve,
    "index_ingest": index_ingest,
}

# every per-layer metric with its unit; a traced run of any workload prints
# all of them, with 0 for a layer call the workload never makes
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "sources.load_table_ms": "ms",
    "sources.load_table_jobs": "count",
    "index.build_s": "s",
    "index.build_docs_per_s": "docs/s",
    "index.build_jobs": "count",
    "index.build_stages": "count",
    "index.build_shuffle_write_mb": "MB",
    "index.build_spill_mb": "MB",
    "index.build_gc_ms": "ms",
    "index.build_executor_cpu_s": "s",
    "index.build_core_util": "ratio",
    "index.search_construct_p50_ms": "ms",
    "index.search_construct_jobs_per_query": "count",
    "index.plan_cache_hit_frac": "ratio",
    "index.search_construct_hit_p50_ms": "ms",
    "index.search_construct_miss_p50_ms": "ms",
    "spark.catalyst_analysis_ms": "ms",
    "spark.catalyst_optimization_ms": "ms",
    "spark.catalyst_planning_ms": "ms",
    "spark.search_collect_p50_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "querylang.bm25_p50_ms": "ms",
    "querylang.bool_p50_ms": "ms",
    "querylang.phrase_p50_ms": "ms",
    "querylang.expand_p50_ms": "ms",
    "index_stream.ingest_docs_per_s": "docs/s",
    "index_stream.batch_p50_ms": "ms",
    "index_stream.add_batch_p50_ms": "ms",
    "index_stream.trigger_overhead_p50_ms": "ms",
    "index_stream.jobs_per_batch": "count",
    "index_stream.compact_s": "s",
    "index_stream.compact_shuffle_mb": "MB",
    "percolate.register_s": "s",
    "percolate.register_jobs": "count",
    "percolate.match_ms": "ms",
    "percolate.match_jobs": "count",
    "percolate.match_stages": "count",
    "percolate.match_shuffle_mb": "MB",
    "percolate.match_executor_cpu_ms": "ms",
    "dedup.minhash_pairs_ms": "ms",
    "dedup.minhash_pairs_jobs": "count",
    "curation.quality_logit_ms": "ms",
    "curation.quality_logit_jobs": "count",
    "similarity.cosine_topk_ms": "ms",
    "similarity.cosine_topk_jobs": "count",
    "operators.pagerank_ms": "ms",
    "operators.pagerank_jobs": "count",
    "trace.op_p50_ms": "ms",
    "trace.work_s": "s",
}
