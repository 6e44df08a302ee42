"""Measure the percolator registry column-width boundary (VERDICT r08 #1).

The one-scan flag compile emits per-stored-query match columns; the open
question was where Catalyst plan analysis/codegen stops being sane as the
registry grows. This script generates N stored boolean queries from the
corpus vocabulary, then for increasing SINGLE-COMPILE widths measures
(a) plan-build wall (Python compile + Catalyst analysis, i.e. time to
produce the analyzed DataFrame), and (b) execution wall for the alerting
form, against the persisted sf index. A final row measures the chunked
path (MAX_COMPILE_QUERIES groups) at the full registry size.

r10 (VERDICT r09 #5): a final section measures the query-term-index
PREFILTER at 10,000 stored queries (for an ad-hoc registry, the index
is built on the fly from term_index_rows). The fixture corpus has a ~60-word
vocabulary (every document overlaps every realistic query), so registry
breadth is simulated the way a real saved-search registry is broad: most
stored queries are about TOPICS (terms) the current batch never
mentions. 2.5% of the registry uses corpus vocabulary; the rest uses
disjoint topic terms. With the prefilter on, compile + execution run
only over the candidate chunks, so wall is proportional to MATCHING
chunks instead of registry size.

r11 (VERDICT r10 #1): a 100,000-stored-query section exercises the
PERSISTED term-index path — register_percolator_queries writes the
(query_id, term) relation once (linear-cost validation), then
percolation prefilters via ONE broadcast join and parses only the
candidate slice. Measured against the ad-hoc registry (which parses
the whole registry and builds its term index per call) to show where
the driver-side knee sits and that the persisted path stays
proportional to candidates.

r12 (VERDICT r11 #1): a 1,000,000-stored-query section (PERC_SECTIONS=1m)
exercises the FLIPPED broadcast side — past
PREFILTER_INDEX_BROADCAST_MAX_ROWS index rows the batch's distinct
terms broadcast into a join streamed over the term-bucketed persisted
index, so per-percolate cost stays proportional to batch + candidates
while the shipped data is bounded by batch vocabulary. The stream
section (PERC_SECTIONS=stream) runs the alerting stream over the 100k
registry and reports the compile memo's with/without split: the three
batch relations percolated with ``compile_cache=None``, then with one
shared dict, as the stream does.

Usage:
    python scripts/measure_percolator_boundary.py [sf_dir] [sizes...]
Prints one JSON line per measurement; paste the table into SCALE.md.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def gen_registry(terms: list[str], n: int) -> list[tuple[int, str]]:
    """n deterministic stored boolean queries cycling four shapes over
    the supplied vocabulary terms (no RNG — reproducible across runs)."""
    out = []
    m = len(terms)
    for i in range(n):
        a, b, c = terms[i % m], terms[(i * 7 + 1) % m], terms[(i * 13 + 2) % m]
        shape = i % 4
        if shape == 0:
            q = f"{a} AND {b}"
        elif shape == 1:
            q = f"{a} OR ({b} AND NOT {c})"
        elif shape == 2:
            q = f"({a} OR {b}) AND {c}"
        else:
            q = f"{a} AND NOT {b}"
        out.append((i + 1, q))
    return out


def main() -> None:
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sizes = [int(s) for s in sys.argv[2:]] or [50, 100, 250, 500, 1000]
    # PERC_SECTIONS=single,10k,100k (default all) — re-measuring one
    # section must not pay the others (the 10k prefilter=off leg alone
    # is ~275s)
    sections = set(
        os.environ.get("PERC_SECTIONS", "single,10k,100k").split(",")
    )

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from sparkfulltextquery_spark.functions.fulltext_queries import _ensure_index
    from sparkfulltextquery_spark.functions.index import _force_bucketed_scan
    from sparkfulltextquery_spark.functions.percolate import (
        MAX_COMPILE_QUERIES,
        percolate_matches,
    )

    prefix = _ensure_index(spark, sf_dir)
    _force_bucketed_scan(spark)
    rel = spark.table(f"{prefix}_postings").select("doc_id", "term", "positions")
    # vocabulary by descending df so generated queries actually match docs
    terms = [
        r.term
        for r in spark.table(f"{prefix}_df")
        .orderBy(F.col("df").desc(), "term")
        .limit(400)
        .collect()
    ]
    registry = gen_registry(terms, max(sizes))

    for n in sizes if "single" in sections else []:
        qs = registry[:n]
        t0 = time.perf_counter()
        df = percolate_matches(rel, qs, chunk_size=10**9)  # force ONE compile
        df.schema  # trigger Catalyst analysis
        t_compile = time.perf_counter() - t0
        t1 = time.perf_counter()
        rows = df.count()
        t_exec = time.perf_counter() - t1
        print(
            json.dumps(
                {
                    "mode": "single-compile",
                    "n_queries": n,
                    "compile_s": round(t_compile, 2),
                    "exec_s": round(t_exec, 2),
                    "match_rows": rows,
                }
            ),
            flush=True,
        )

    # the chunked production path at the full registry width
    if "single" in sections:
        n = max(sizes)
        t0 = time.perf_counter()
        df = percolate_matches(rel, registry[:n])  # default MAX_COMPILE_QUERIES
        df.schema
        t_compile = time.perf_counter() - t0
        t1 = time.perf_counter()
        rows = df.count()
        t_exec = time.perf_counter() - t1
        print(
            json.dumps(
                {
                    "mode": f"chunked({MAX_COMPILE_QUERIES})",
                    "n_queries": n,
                    "compile_s": round(t_compile, 2),
                    "exec_s": round(t_exec, 2),
                    "match_rows": rows,
                }
            ),
            flush=True,
        )

    # the broad-registry/narrow-batch alerting shape shared by the 10k
    # and 100k sections: a thin live slice over the corpus vocabulary,
    # the rest over disjoint topic vocabularies the batch never mentions
    from sparkfulltextquery_spark.functions.percolate import (
        _adhoc_term_index,
        _prefilter_candidates_indexed,
        percolate_from_table,
        register_percolator_queries,
    )

    def n_candidates(reg: list[tuple[int, str]]) -> int:
        # the one prefilter, over the registry's ad-hoc term index
        ti, ti_rows = _adhoc_term_index(spark, reg)
        return len(_prefilter_candidates_indexed(batch_rel, reg, None, ti, ti_rows)[0])

    def broad_registry(n_total: int) -> list[tuple[int, str]]:
        live = gen_registry(terms, 250)
        dead = []
        for i in range(n_total - 250):
            qid = 1_000_000 + i
            a, b = f"topic{i}a", f"topic{i}b"
            dead.append((qid, f"{a} AND {b}" if i % 2 else f"{a} OR {b}"))
        return live + dead

    batch_ids = [
        r.doc_id
        for r in rel.select("doc_id").distinct().orderBy("doc_id").limit(50).collect()
    ]
    batch_rel = rel.filter(F.col("doc_id").isin(batch_ids))

    # ---- r10: ad-hoc query-term-index prefilter at 10k queries --------
    if "10k" in sections:
        big = broad_registry(10_000)
        n_cand = n_candidates(big)
        for pf in (False, True):
            t0 = time.perf_counter()
            df = percolate_matches(batch_rel, big, prefilter=pf)
            df.schema
            t_compile = time.perf_counter() - t0
            t1 = time.perf_counter()
            rows = df.count()
            t_exec = time.perf_counter() - t1
            print(
                json.dumps(
                    {
                        "mode": f"10k-broad-registry prefilter={'on' if pf else 'off'}",
                        "n_queries": len(big),
                        "n_candidates": n_cand if pf else len(big),
                        "compile_s": round(t_compile, 2),
                        "exec_s": round(t_exec, 2),
                        "match_rows": rows,
                    }
                ),
                flush=True,
            )

    # ---- r11: PERSISTED term-index prefilter at 100k queries ----------
    # (VERDICT r10 #1) registration writes the (query_id, term) relation
    # once; percolation broadcast-joins it against the batch's terms and
    # parses only the candidate slice. The ad-hoc leg shows the
    # driver-side knee it replaces (whole-registry parse + term-index
    # build per call); the unfiltered leg is omitted (400 chunk compiles).
    if "100k" in sections:
        big = broad_registry(100_000)
        t0 = time.perf_counter()
        tbl = register_percolator_queries(spark, big, table="sftq_bound100k")
        t_reg = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "mode": "100k-register (one-time, writes query+term tables)",
                    "n_queries": len(big),
                    "register_s": round(t_reg, 2),
                }
            ),
            flush=True,
        )
        n_cand = n_candidates(big)
        for mode in ("ad-hoc", "indexed"):
            t0 = time.perf_counter()
            if mode == "indexed":
                df = percolate_from_table(spark, batch_rel, table=tbl, matches=True)
            else:
                df = percolate_matches(batch_rel, big, prefilter=True)
            df.schema
            t_compile = time.perf_counter() - t0
            t1 = time.perf_counter()
            rows = df.count()
            t_exec = time.perf_counter() - t1
            print(
                json.dumps(
                    {
                        "mode": f"100k-broad-registry prefilter={mode}",
                        "n_queries": len(big),
                        "n_candidates": n_cand,
                        "compile_s": round(t_compile, 2),
                        "exec_s": round(t_exec, 2),
                        "match_rows": rows,
                    }
                ),
                flush=True,
            )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_terms")

    # ---- r12: 1M-query registry through the FLIPPED broadcast side ----
    # (VERDICT r11 #1) the persisted index is ~2M rows here — past
    # PREFILTER_INDEX_BROADCAST_MAX_ROWS, so the prefilter broadcasts the
    # BATCH's distinct terms into the bucketed index instead of shipping
    # the index. The ad-hoc leg is omitted (it would parse 1M queries
    # per call — the 100k section already shows that knee); what matters
    # is that compile+exec stay proportional to batch + candidates as
    # the registry grows another decade.
    if "1m" in sections:
        from sparkfulltextquery_spark.functions.percolate import (
            PREFILTER_INDEX_BROADCAST_MAX_ROWS,
            _usable_term_index,
        )

        big = broad_registry(1_000_000)
        t0 = time.perf_counter()
        tbl = register_percolator_queries(spark, big, table="sftq_bound1m")
        t_reg = time.perf_counter() - t0
        ti, ti_rows = _usable_term_index(spark, tbl)
        print(
            json.dumps(
                {
                    "mode": "1m-register (one-time, writes query+term tables)",
                    "n_queries": len(big),
                    "register_s": round(t_reg, 2),
                    "term_index_rows": ti_rows,
                    "flipped_broadcast": bool(
                        ti_rows > PREFILTER_INDEX_BROADCAST_MAX_ROWS
                    ),
                }
            ),
            flush=True,
        )
        t0 = time.perf_counter()
        df = percolate_from_table(spark, batch_rel, table=tbl, matches=True)
        df.schema
        t_compile = time.perf_counter() - t0
        t1 = time.perf_counter()
        rows = df.count()
        t_exec = time.perf_counter() - t1
        print(
            json.dumps(
                {
                    "mode": "1m-broad-registry prefilter=indexed(batch-bcast)",
                    "n_queries": len(big),
                    "compile_s": round(t_compile, 2),
                    "exec_s": round(t_exec, 2),
                    "match_rows": rows,
                }
            ),
            flush=True,
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_terms")

    # ---- r11: STREAMING alerting against the 100k registry ------------
    # The production question: with the persisted term index cached at
    # stream start, what does a micro-batch cost when the registry is
    # 100k stored queries and the batch's topics overlap only the 250
    # live ones? (Pre-r11, every batch re-parsed the registry and
    # re-planned the giant isin — the 180s leg above, per batch.)
    if "stream" in sections:
        import shutil
        import tempfile

        from sparkfulltextquery_spark.functions.fulltext import positional_postings
        from sparkfulltextquery_spark.functions.percolate import (
            _usable_term_index,
            stream_percolate_alerts,
        )

        big = broad_registry(100_000)
        tbl = register_percolator_queries(spark, big, table="sftq_stream100k")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        tmp = tempfile.mkdtemp()
        src, out, ck = (
            f"file://{tmp}/src",
            f"file://{tmp}/alerts",
            f"file://{tmp}/ck",
        )
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        t0 = time.perf_counter()
        q = stream_percolate_alerts(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            tbl, out, ck,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        n_batches = spark.read.parquet(out).select("batch_id").distinct().count()
        streamed = {
            (r.query_id, r.doc_id)
            for r in spark.read.parquet(out).select("query_id", "doc_id").collect()
        }
        print(
            json.dumps(
                {
                    "mode": "100k-registry STREAMING alerting",
                    "n_queries": len(big),
                    "n_batches": n_batches,
                    "total_s": round(wall, 2),
                    "per_batch_s": round(wall / max(n_batches, 1), 2),
                    "alerts": len(streamed),
                }
            ),
            flush=True,
        )
        shutil.rmtree(tmp, ignore_errors=True)

        # (VERDICT r11 #5) the per-stream chunk-compile memo: the same
        # three batch relations percolated without it, then with one
        # shared dict — the candidate set is stable batch-to-batch here
        # (same corpus vocabulary every batch), the steady-state case the
        # memo targets
        ti, ti_rows = _usable_term_index(spark, tbl)
        batches = [
            positional_postings(docs.filter(F.col("doc_id") % 3 == i)).select(
                "doc_id", "term", "positions"
            )
            for i in range(3)
        ]
        for cache in (None, {}):
            t0 = time.perf_counter()
            alerts = set()
            for b in batches:
                alerts |= {
                    (r.query_id, r.doc_id)
                    for r in percolate_matches(
                        b, big, vocab=b.select("term").distinct(),
                        term_index=ti, term_index_rows=ti_rows,
                        compile_cache=cache,
                    ).collect()
                }
            wall = time.perf_counter() - t0
            print(
                json.dumps(
                    {
                        "mode": (
                            "100k-registry 3 batches "
                            f"compile_cache={'off' if cache is None else 'on'}"
                        ),
                        "n_queries": len(big),
                        "total_s": round(wall, 2),
                        "per_batch_s": round(wall / len(batches), 2),
                        "alerts": len(alerts),
                    }
                ),
                flush=True,
            )
            assert alerts == streamed, "compile cache changed the alert set"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}_terms")


if __name__ == "__main__":
    main()
