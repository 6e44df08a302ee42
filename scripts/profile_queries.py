#!/usr/bin/env python
"""Optimization-round profiler.

For each named query: capture `.explain("formatted")` into
plans/<round>/<name>_<tag>.txt and time the noop-sink materialization
(1 untimed warm + 3 timed, median + best) — the bench.py methodology —
plus the CONSTRUCTION wall (the query function call itself, which for
some operators runs driver-side jobs like count()/collect()) and the
job/stage counts per timed run, so "where does the wall go" is visible
per row instead of argued.

Usage:
  python scripts/profile_queries.py --round r13 --tag before q1_pricing_summary dedup_minhash_pairs
  python scripts/profile_queries.py --round r13 --tag before --headline   # the 19 benched rows
  python scripts/profile_queries.py --round r13 --tag before --extra      # the extra set
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--round", required=True, help="round name, e.g. r13")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--extra", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from sparkfulltextquery_spark import get_spark

    spark = get_spark(app_name=f"sftq-profile-{args.round}")
    sc = spark.sparkContext

    import __spark_entry__ as E
    import bench as B

    qs = E.queries()
    names = list(args.names)
    if args.headline:
        names += B.HEADLINE
    if args.extra:
        names += B.EXTRA

    plans_dir = REPO / "plans" / args.round
    plans_dir.mkdir(parents=True, exist_ok=True)

    # warmup: JVM + codegen + noop committer
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    results = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        import gc

        gc.collect()
        sc.setJobDescription(f"{args.round}-profile:{name}")
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        t_construct = time.time() - t0
        if not args.no_plan:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
        # warm (codegen compile), untimed
        st = sc.statusTracker()
        jobs0 = len(st.getJobIdsForGroup() or [])
        df.write.format("noop").mode("overwrite").save()
        walls = []
        for _ in range(args.runs):
            t0 = time.time()
            d2 = qs[name](spark, SF_DIR)
            d2.write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
        jobs1 = len(st.getJobIdsForGroup() or [])
        walls.sort()
        results[name] = {
            "construct_s": round(t_construct, 3),
            "median_s": round(walls[len(walls) // 2], 3),
            "best_s": round(walls[0], 3),
            "jobs_per_run": round((jobs1 - jobs0) / (args.runs + 1), 1),
        }
        print(f"{name:42s} construct={t_construct:6.3f} median={results[name]['median_s']:7.3f} best={results[name]['best_s']:7.3f} jobs/run={results[name]['jobs_per_run']}", flush=True)
        sc.setJobDescription(None)

    out = plans_dir / f"profile_{args.tag}.json"
    existing = json.loads(out.read_text()) if out.exists() else {}
    existing.update(results)
    out.write_text(json.dumps(existing, indent=1) + "\n")
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
