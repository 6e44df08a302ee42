#!/usr/bin/env python
"""Record plan and row fingerprints of the full-text surface as one JSON file.

    python scripts/plan_identity.py --out plans.json --sf DIR [--seeds 1 7919]

For every ``fulltext_*`` registry row it records the optimized logical plan
and a sha256 of the row set; for the ``search_serve`` query mix of each seed
(``perfbench.gen``'s corpus and mix, read-only) it records the same per
query over a freshly built index. Expression ids, ``_aN`` aggregate aliases
and lambda-variable suffixes are normalized, so two checkouts of the code
produce byte-identical files exactly when every plan and every result is
the same. Prove a refactor output- and plan-identical by running this in
both checkouts and diffing the two files.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_NORMALIZE = [
    (re.compile(r"\b([a-z])_\d+(?=#)"), r"\1_N"),  # lambda variables (x_12#34)
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"\b_a\d+\b"), "_aN"),  # compile_queries aggregate aliases
]


def normalized_plan(df) -> list[str]:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, rep in _NORMALIZE:
        text = pat.sub(rep, text)
    return text.rstrip().splitlines()


def fingerprint(df) -> dict:
    try:
        plan = normalized_plan(df)
        rows = sorted(repr(tuple(r)) for r in df.collect())
    except Exception as e:  # a failing row is recorded, not fatal
        return {"error": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"plan": plan, "n_rows": len(rows), "rows_sha256": digest}


def registry_rows(spark, sf: str) -> dict:
    import __spark_entry__ as E

    qs = E.queries()
    return {
        name: fingerprint(qs[name](spark, sf))
        for name in sorted(qs)
        if name.startswith("fulltext_")
    }


def serve_mix(spark, seed: int, tmp: str) -> list[dict]:
    """The search_serve corpus, index and query mix of ``seed`` (its
    default 15 s run: 30 queries), each query's plan and rows."""
    from perfbench import gen
    from perfbench.workloads import BUCKETS, K, SERVE_DOCS, SERVE_MIN_QUERIES, SERVE_VOCAB

    from sparkfulltextquery_spark.functions.index import (
        bm25_search_indexed,
        build_index,
        search_indexed,
    )
    from sparkfulltextquery_spark.sources import load_table

    corpus = gen.make_corpus(seed, SERVE_DOCS, SERVE_VOCAB)
    d = Path(tmp, f"serve{seed}")
    d.mkdir()
    gen.write_docs(str(d / "documents.parquet"), corpus.doc_ids, corpus.texts)
    prefix = f"pid_serve{seed}"
    build_index(
        load_table(spark, str(d), "documents"),
        prefix,
        num_buckets=BUCKETS,
        path=f"file://{d}/index",
        term_vectors=False,
    )
    out = []
    for kind, text in gen.search_mix(seed, corpus, SERVE_MIN_QUERIES):
        call = bm25_search_indexed if kind == "bm25" else search_indexed
        out.append({"kind": kind, "text": text, **fingerprint(call(spark, text, K, prefix))})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="JSON file to write")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_TEST_SF_DIR"),
                    required="SPARK_GRAFT_TEST_SF_DIR" not in os.environ,
                    help="registry data dir (default: $SPARK_GRAFT_TEST_SF_DIR)")
    ap.add_argument("--seeds", type=int, nargs="*", default=[1, 7919],
                    help="search_serve mix seeds (none: registry rows only)")
    args = ap.parse_args()

    from sparkfulltextquery_spark import get_spark

    spark = get_spark(app_name="plan_identity")
    try:
        record = {"registry": registry_rows(spark, args.sf), "search_serve": {}}
        with tempfile.TemporaryDirectory(prefix="plan_identity_") as tmp:
            for seed in args.seeds:
                record["search_serve"][str(seed)] = serve_mix(spark, seed, tmp)
    finally:
        spark.stop()
    Path(args.out).write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    errors = [n for n, r in record["registry"].items() if "error" in r]
    print(f"{args.out}: {len(record['registry'])} registry rows ({len(errors)} failed), "
          f"{sum(map(len, record['search_serve'].values()))} search_serve queries")


if __name__ == "__main__":
    main()
